"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2 (or
a training-data-pipeline extension) over the driver's parquet tables; the
matching ``oracle_sql()`` is the exact ANSI-SQL semantics for DuckDB.
Column names and types are aligned on both sides (the driver hash-compares
values with columns sorted by name).

Query -> operator map (SURVEY.md §2 / extensions):
  q01_crawl_bfs          S1/S2/J1/J4/D1/D3/F6/O1 — the full crawl loop on a
                         derived arithmetic link graph; oracle = recursive CTE
  q02_url_normalize      F1/X17
  q03_host_counts        F2 input (netloc extraction) + A2
  q04_link_filter        F3/F4 (rlike fast path)
  q05_robots_gate        F5/J2
  q06_cache_key          X15 (S4 key)
  q07_crawl_stats        A1 (counter aggregation shape)
  q08_span_assembly      X7 (real pandas-UDF kernel)
  q09_text_metrics       A4/X13 (token counts, read time)
  q10_lang_id            text-analysis: language ID heuristic
  q11_quality            text-analysis: quality scoring
  q12_dedup_exact        dedup: exact hash-groupBy
  q13_minhash_sig        dedup: minhash signatures
  q14_minhash_lsh_pairs  dedup: LSH band-bucket candidate pairs
  q15_ngram_jaccard      dedup: exact n-gram Jaccard pairs
  q16_simhash            dedup: simhash signatures
  q17_sim_topk           similarity: brute-force cosine top-k
  q18_ivf_topk           similarity: IVF-routed ANN top-k
  q19_near_dup_cosine    dedup: embedding-cosine near-dup pairs
  q20_fingerprint        text-analysis: k-gram min-hash fingerprint
  q21_sessions           O-family windows (sessionization over events)
  q22_semantic_chunks    X11-X13 (real mapInPandas chunker kernel)
  q23_sentence_chunks    X14 (real mapInPandas sentence packer)
  q24_source_counts      A2/A3 aggregate shapes
  q25_topk_per_lang      O4-style window ranking
  q26_metadata_extract   X8/X9 metadata-span extraction kernels
  q27_pdf_heuristics     C1 text-layer classification heuristics
  q28_clean_markdown     X11 cleaning chain (quirk-exact)
  q29_bloom_seen         D1 bloom-prefiltered anti-join (exact result)
  q30_span_kind_counts   A5 converter counters (higher-order fns)
  q31_simhash_pairs      dedup: simhash near-dup pairs (pigeonhole bands)
  q40_pagerank           graph: fixed-point PageRank (priority-crawl signal)
  q41_indegree_hist      graph: in-degree distribution (hub-skew probe)
  q42_char_entropy       text-analysis: Shannon char entropy quality signal
  q43_tfidf_topk         corpus stats: top-3 TF-IDF terms per document
  q44_cuckoo_seen        D1 cuckoo-filter seen set with expiry (deletes)
  q45_srp_lsh_pairs      dedup: embedding near-dup via SRP (hyperplane) LSH
  q46_priority_schedule  O2/O3 priority-queue budget scheduling
  q47_stratified_sample  corpus balancing: deterministic per-stratum sample
  q48_anchor_stats       backlink profile: anchor-text counts per target
  q49_docx_convert       C2 end-to-end: stdlib DOCX byte decode -> spans
  q50_ttl_recrawl        S4 TTL expiry + recrawl: refetch exactly the expired
  q51_xlsx_convert       C3 end-to-end: stdlib XLSX byte decode -> spans
  q52_png_decode         multimodal: REAL PNG payloads through decode_media
  q53_contamination      decontamination: benchmark n-gram overlap flags
  q54_proportional_mix   corpus mixing to target domain proportions
  q55_trap_scores        spider-trap analytics: URL-template mining per host
  q56_pdf_objstm_convert C1 modern PDF: ObjStm/xref-stream byte decode -> spans
  q57_repetition_quality Gopher repetition filters: dup-line + top-bigram frac
  q58_line_dedup         CCNet-style cross-corpus line dedup + reassembly
  q59_pii_scrub          PII detection+redaction (email/IP/phone), map-side
  q60_pdf_cid_convert    C1 CID/Type0 font PDF: ToUnicode CMap decode -> spans
  q61_pdf_lzw_convert    C1 LZWDecode-filtered PDF: stdlib LZW decode -> spans
  q62_image_near_dup     perceptual image dedup: aHash pairs over real PNGs
  q63_image_dedup_groups image dedup groups: connected components + canonical
  q64_passage_dedup      ExactSubstr passage removal: dup n-gram cover cut
  q65_gopher_filters     Gopher Table-A1 document filters, zero-shuffle pass
  q66_unigram_lm_score   CCNet-style unigram-LM mean-logprob doc scoring
  q67_semantic_dedup     SemDeDup: intra-cell cosine groups, keep-farthest
  q68_token_budget_sample  per-stratum token-budget prefix sampling
  q69_top_trigram_coverage Gopher top word-trigram char coverage
  q70_dup_ngram_cover    Gopher duplicated-trigram char cover fraction
  q71_curation_profile   per-source corpus-health aggregate
  q72_blocklist_flags    C4-style blocklist word flagging, zero-shuffle
  q73_dedup_cluster_histogram  dedup component-size histogram
  q74_bm25_topk          BM25 keyword search top-k (one broadcast stat row)
  q75_bigram_lm_score    stupid-backoff bigram LM doc scoring
  q76_recrawl_priority   Cho/Garcia-Molina change-rate recrawl scheduling
  q77_hll_distinct       HyperLogLog distinct sketch, bit-exact registers
  q78_kmeans_cells       fixed-point Lloyd k-means (IVF cell training)
  q79_warc_roundtrip     WARC 1.0 sink+source roundtrip (plain + .gz members)
  q80_sitemap_parse      sitemaps.org urlset parsing (roadmap item)
  q81_robots_parse       raw robots.txt bodies -> structured rules table
  q82_snapshot_diff      incremental-crawl delta (added/removed/changed)
  q83_sequence_packing   next-fit training-sequence packing (pad-free batching)
  q84_hits               HITS hubs/authorities (frontier priority signal)
  q85_redirect_chains    redirect-chain resolution by pointer doubling
  q86_cms_host_counts    count-min sketch host frequencies (heavy hitters)
  q87_feed_parse         RSS 2.0 / Atom 1.0 feed source parsing
  q88_content_sniff      magic-byte content-type sniffing (converter router)
  q89..q222              the remaining operator families — every entry is
                         documented on its own query function below, and the
                         full per-operator inventory (implementation file,
                         paper citation, oracle + test evidence) lives in
                         COVERAGE.md / README.md "What it implements"
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eget_spark.functions.spans import assemble_markdown
from eget_spark.functions.text import (
    bpe_ish_token_count,
    quality_score,
    read_time_minutes,
    token_count,
)
from eget_spark.functions.urls import cache_key, host_of, normalize_url
from eget_spark.operators.chunker import chunk_semantic, chunk_sentences
from eget_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from eget_spark.operators.links import matches_any, robots_allowed
from eget_spark.operators.similarity import cosine, cosine_topk_bruteforce, ivf_topk


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- shared derivations -----------------------------------------------------

_URL_PREFIX = "https://crawl.test/p/"


def _messy_urls(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL construction used by q02-q06."""
    suffix = (
        F.when(F.col("doc_id") % 4 == 1, F.lit("#frag"))
        .when(F.col("doc_id") % 4 == 2, F.lit("?q=1"))
        .when(F.col("doc_id") % 4 == 3, F.lit("?q=1#frag"))
        .otherwise(F.lit(""))
    )
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            suffix,
        ).alias("href"),
    )


_MESSY_SQL = (
    "SELECT doc_id, 'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) || "
    "CASE WHEN doc_id % 4 = 1 THEN '#frag' WHEN doc_id % 4 = 2 THEN '?q=1' "
    "WHEN doc_id % 4 = 3 THEN '?q=1#frag' ELSE '' END AS href FROM documents"
)

_TOKS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_SHINGLE_SQL = (
    f"CASE WHEN len({_TOKS_SQL}) < 3 THEN [array_to_string({_TOKS_SQL}, ' ')] "
    f"ELSE list_transform(generate_series(1, len({_TOKS_SQL}) - 2), "
    f"i -> array_to_string(({_TOKS_SQL})[i:i+2], ' ')) END"
)


def _graph_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic link graph over `documents`: doc d links to
    (7d+13)%N, (11d+5)%N, (13d+7)%N — SQL-derivable, crawl-engine-ready."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    url = lambda c: F.concat(F.lit(_URL_PREFIX), c.cast("string"))
    mk_span = lambda kind, text, ref, off: F.struct(
        F.lit(kind).alias("kind"),
        text.alias("text"),
        ref.alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    spans = F.array(
        mk_span("heading", F.concat(F.lit("# doc "), F.col("doc_id").cast("string")), F.lit(""), 0),
        mk_span("link", F.lit("c1"), url((F.col("doc_id") * 7 + 13) % n), 1),
        mk_span("link", F.lit("c2"), url((F.col("doc_id") * 11 + 5) % n), 2),
        mk_span("link", F.lit("c3"), url((F.col("doc_id") * 13 + 7) % n), 3),
    )
    return docs.select(
        url(F.col("doc_id")).alias("doc_id"),
        spans.alias("spans"),
        F.lit("crawl.test").alias("host"),
        F.array().cast("array<string>").alias("true_out_links"),
    )


def q01_crawl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the real crawl loop (BFS admission, first-seen depth) on the
    arithmetic graph; depth <= 6 from doc 0, no page cap."""
    from eget_spark.plans.crawl import CrawlConfig, crawl

    corpus = _graph_corpus(spark, sf_dir).persist()
    corpus.count()
    cfg = CrawlConfig(
        seed_urls=[f"{_URL_PREFIX}0"],
        max_depth=6,
        max_pages=1_000_000_000,
        respect_robots_txt=False,
        fast_normalize=True,  # corpus links are absolute, no #?/params
    )
    res = crawl(spark, corpus, cfg, robots=None)
    out = res.order.select("url", F.col("depth").cast("int").alias("depth"))
    # every round's state is checkpointed by crawl() — the corpus cache is
    # dead weight for the rest of the session (it was polluting later bench
    # queries' executor memory); the returned order never recomputes it
    corpus.unpersist()
    return out


_Q01_SQL = """
WITH RECURSIVE
n AS (SELECT count(*) AS c FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id*7+13) % (SELECT c FROM n) AS dst FROM documents
  UNION ALL SELECT doc_id, (doc_id*11+5) % (SELECT c FROM n) FROM documents
  UNION ALL SELECT doc_id, (doc_id*13+7) % (SELECT c FROM n) FROM documents
),
bfs AS (
  SELECT CAST(0 AS BIGINT) AS id, 0 AS depth
  UNION ALL
  SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.id WHERE b.depth < 6
)
SELECT 'https://crawl.test/p/' || CAST(id AS VARCHAR) AS url,
       CAST(min(depth) AS INT) AS depth
FROM bfs GROUP BY id
"""


def q02_url_normalize(spark, sf_dir):
    urls = _messy_urls(_t(spark, sf_dir, "documents"))
    return urls.select(
        "doc_id",
        normalize_url(F.col("href"), F.lit("https://crawl.test/")).alias("url"),
    )


_Q02_SQL = f"SELECT doc_id, regexp_replace(href, '[#?].*$', '') AS url FROM ({_MESSY_SQL})"


def q03_host_counts(spark, sf_dir):
    urls = _messy_urls(_t(spark, sf_dir, "documents"))
    return (
        urls.groupBy(host_of(F.col("href")).alias("host"))
        .agg(F.count("*").cast("long").alias("n_urls"))
    )


_Q03_SQL = (
    f"SELECT regexp_extract(href, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]*)', 1) AS host, "
    f"CAST(count(*) AS BIGINT) AS n_urls FROM ({_MESSY_SQL}) GROUP BY 1"
)


def q04_link_filter(spark, sf_dir):
    """F3 exclude + F4 include on the normalized URLs (Java-safe rlike path)."""
    urls = q02_url_normalize(spark, sf_dir)
    keep = ~matches_any(F.col("url"), [r"[048]$"]) & matches_any(
        F.col("url"), [r"/p/\d+$"]
    )
    return urls.where(keep)


_Q04_SQL = (
    f"SELECT doc_id, url FROM ({_Q02_SQL}) "
    "WHERE NOT regexp_matches(url, '[048]$') AND regexp_matches(url, '/p/\\d+$')"
)


def q05_robots_gate(spark, sf_dir):
    """F5: hosts src1/src3 disallow /p/1*; filter normalized URLs."""
    urls = q02_url_normalize(spark, sf_dir)
    robots = spark.createDataFrame(
        [
            ("src1.example.com", ["/p/1"], 0.0),
            ("src3.example.com", ["/p/1"], 0.0),
        ],
        "host string, disallow_prefixes array<string>, crawl_delay double",
    )
    return robots_allowed(urls, robots, respect_robots=True, url_col="url")


_Q05_SQL = f"""
SELECT doc_id, url FROM ({_Q02_SQL})
WHERE NOT (
  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]*)', 1)
      IN ('src1.example.com', 'src3.example.com')
  AND starts_with(regexp_extract(url, '^[a-zA-Z]+://[^/]*(/[^?#]*)', 1), '/p/1')
)
"""


def q06_cache_key(spark, sf_dir):
    urls = q02_url_normalize(spark, sf_dir)
    return urls.select(
        "doc_id",
        cache_key(F.col("url"), F.lit('{"only_main": true}')).alias("key"),
    )


_Q06_SQL = (
    f"SELECT doc_id, sha256(url || '|' || '{{\"only_main\": true}}') AS key "
    f"FROM ({_Q02_SQL})"
)


def q07_crawl_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


_Q07_SQL = (
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    "round(sum(value), 4) AS total_value FROM events GROUP BY event_type"
)


def q08_span_assembly(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    mk = lambda kind, text, off: F.struct(
        F.lit(kind).alias("kind"),
        text.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    spans = F.array(
        mk("heading", F.concat(F.lit("# "), F.col("source")), 0),
        mk("paragraph", F.col("text"), 1),
        mk("separator", F.lit(""), 2),
    )
    return docs.select("doc_id", assemble_markdown(spans).alias("markdown"))


_Q08_SQL = """
SELECT doc_id, '# ' || source || chr(10) || chr(10) || trim(text)
       || chr(10) || chr(10) || '---' AS markdown
FROM documents WHERE length(trim(text)) > 0
"""


def q09_text_metrics(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("word_count"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        read_time_minutes(F.col("text")).cast("long").alias("read_time"),
    )


_Q09_SQL = f"""
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS word_count,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
  CAST(greatest(1, CAST(floor((CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) / 200.0) AS BIGINT)) AS BIGINT) AS read_time
FROM documents
"""


def q10_lang_id(spark, sf_dir):
    from eget_spark.functions.text import lang_id_df

    docs = _t(spark, sf_dir, "documents")
    return lang_id_df(docs, "doc_id", "text")


def _lang_score_sql(markers: list[str]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKS_SQL}, t -> t IN ({in_list})))"


def _q10_sql() -> str:
    from eget_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    scores = {lang: _lang_score_sql(LANG_MARKERS[lang]) for lang in langs}
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {best} THEN '{lang}' "
    case += "END"
    inner = ", ".join(f"{scores[lang]} AS s_{lang}" for lang in langs)
    return (
        f"SELECT doc_id, {case} AS pred_lang FROM "
        f"(SELECT doc_id, {inner} FROM documents)"
    )


def q11_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


_Q11_SQL = f"""
SELECT doc_id, round(
  0.3 * least(n_chars2 / 500.0, 1.0)
  + 0.25 * (CASE WHEN n_chars2 > 0 THEN n_alpha / CAST(n_chars2 AS DOUBLE) ELSE 0.0 END)
  + 0.15 * (CASE WHEN n_chars2 > 0 THEN least(n_punct / CAST(n_chars2 AS DOUBLE) * 20.0, 1.0) ELSE 0.0 END)
  + 0.15 * (CASE WHEN n_toks > 0 AND n_chars2 / CAST(n_toks AS DOUBLE) >= 3.0
                  AND n_chars2 / CAST(n_toks AS DOUBLE) <= 10.0 THEN 1.0 ELSE 0.5 END)
  + 0.15 * (CASE WHEN n_toks > 0 THEN n_uniq / CAST(n_toks AS DOUBLE) ELSE 0.0 END)
, 6) AS quality FROM (
  SELECT doc_id,
    length(text) AS n_chars2,
    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_toks,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) END AS n_uniq
  FROM documents)
"""


def q12_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text").select(
        "text_hash",
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("dup_count").cast("long").alias("dup_count"),
    )


_Q12_SQL = (
    "SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id, "
    "CAST(count(*) AS BIGINT) AS dup_count FROM documents GROUP BY 1"
)


_N_MINHASH = 8


def q13_minhash_sig(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_signatures(docs, "doc_id", "text", num_hashes=4, k=3)


def _minhash_sql(num_hashes: int) -> str:
    cols = ", ".join(
        f"min(CAST(('0x' || substr(md5('{j}:' || g), 1, 15)) AS BIGINT)) AS mh{j}"
        for j in range(num_hashes)
    )
    return f"""
SELECT id, {cols} FROM (
  SELECT doc_id AS id, unnest({_SHINGLE_SQL}) AS g FROM documents
) GROUP BY id
"""


def q14_minhash_lsh_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, bands=4, k=3)


def _q14_sql() -> str:
    bands = []
    for b in range(4):
        sig = " || '|' || ".join(f"CAST(mh{b * 2 + r} AS VARCHAR)" for r in range(2))
        bands.append(f"SELECT id, {b} AS band, md5({sig}) AS sig FROM sigs")
    buckets = " UNION ALL ".join(bands)
    return f"""
WITH sigs AS ({_minhash_sql(8)}),
buckets AS ({buckets})
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
"""


def q15_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.05, k=3)


_Q15_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, g FROM (
    SELECT doc_id, unnest({_SHINGLE_SQL}) AS g FROM documents)
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes na ON na.id = id_a
JOIN sizes nb ON nb.id = id_b
WHERE i / CAST(na.n + nb.n - i AS DOUBLE) >= 0.05
"""


def q16_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=16)


def _q16_sql(bits: int = 16) -> str:
    terms = " + ".join(
        f"(CASE WHEN 2 * sum((h >> {b}) & 1) > count(*) THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
SELECT id, CAST({terms} AS BIGINT) AS simhash FROM (
  SELECT doc_id AS id,
         CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS t FROM documents)
) GROUP BY id
"""


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round(list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i]*{b}[i])) / "
        f"(sqrt(list_sum(list_transform({a}, x -> x*x))) * "
        f"sqrt(list_sum(list_transform({b}, x -> x*x)))), 6)"
    )


_VECS_SQL = (
    "SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings"
)


def q17_sim_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 97 == 0)
    out = cosine_topk_bruteforce(emb, queries, "vec_id", "embedding", k=10)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine",
        F.col("rank").cast("int"),
    )


_Q17_SQL = f"""
WITH v AS ({_VECS_SQL}),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % 97 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {_cos_sql('q.qv', 'c.cv')} AS cosine
  FROM q, (SELECT vec_id, v AS cv FROM v) c
  WHERE c.vec_id <> q.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""


def q18_ivf_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 97 == 0)
    out = ivf_topk(emb, queries, "label", "vec_id", "embedding", k=5, nprobe=2)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine",
        F.col("rank").cast("int"),
    )


_Q18_SQL = f"""
WITH v AS ({_VECS_SQL}),
dims AS (
  SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM v
),
cent AS (
  SELECT label AS cell, list(m ORDER BY dim) AS centroid
  FROM (SELECT label, dim, avg(x) AS m FROM dims GROUP BY label, dim)
  GROUP BY label
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % 97 = 0),
routed AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
      row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY round(list_sum(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i]*c.centroid[i])) /
          (sqrt(list_sum(list_transform(q.qv, x -> x*x))) * sqrt(list_sum(list_transform(c.centroid, x -> x*x)))), 6) DESC,
        c.cell) AS crank
    FROM q, cent c)
  WHERE crank <= 2
),
scored AS (
  SELECT r.query_id, e.vec_id AS neighbor_id,
    round(list_sum(list_transform(generate_series(1, len(r.qv)), i -> r.qv[i]*e.v[i])) /
      (sqrt(list_sum(list_transform(r.qv, x -> x*x))) * sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cosine
  FROM routed r JOIN v e ON e.label = r.cell AND e.vec_id <> r.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q19_near_dup_cosine(spark, sf_dir):
    """Embedding near-dup: left side sampled (vec_id%10==0), same-label
    blocking, cosine >= 0.25."""
    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select(
        F.col("vec_id"),
        F.col("label"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    a = v.where(F.col("vec_id") % 10 == 0).alias("a")
    b = v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").cast("long").alias("id_a"),
            F.col("b.vec_id").cast("long").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.25)
    )


_Q19_SQL = f"""
SELECT * FROM (
  WITH v AS ({_VECS_SQL})
  SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
    round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i])) /
      (sqrt(list_sum(list_transform(a.v, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS cosine
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE a.vec_id % 10 = 0
) WHERE cosine >= 0.25
"""


def q20_fingerprint(spark, sf_dir):
    from eget_spark.functions.text import shingle_rows

    docs = _t(spark, sf_dir, "documents")
    sh = shingle_rows(docs, "doc_id", "text", k=3)
    return (
        sh.groupBy("id")
        .agg(F.min(F.md5("s")).alias("fp"))
        .select(F.col("id").alias("doc_id"), "fp")
    )


_Q20_SQL = f"""
SELECT doc_id, list_min(list_transform({_SHINGLE_SQL}, s -> md5(s))) AS fp
FROM documents
"""


def q21_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("new_sess", (gap > 1800).cast("long"))
        .groupBy("user_id")
        .agg((F.coalesce(F.sum("new_sess"), F.lit(0)) + 1).cast("long").alias("n_sessions"))
    )


_Q21_SQL = """
SELECT user_id, CAST(coalesce(sum(new_sess), 0) + 1 AS BIGINT) AS n_sessions FROM (
  SELECT user_id,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events)
GROUP BY user_id
"""


def _doc_markdown(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("# "), F.col("source"), F.lit("\n\n"), F.col("text")).alias(
            "markdown"
        ),
    )


def q22_semantic_chunks(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    chunks = chunk_semantic(_doc_markdown(docs))
    return chunks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("position").cast("int"),
        "content",
        F.col("type").alias("chunk_type"),
        F.col("word_count").cast("long"),
    )


_Q22_SQL = """
SELECT doc_id, CAST(0 AS INT) AS position, trim(text) AS content,
  'text' AS chunk_type,
  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS word_count
FROM documents WHERE length(trim(text)) > 0
"""


def q23_sentence_chunks(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    chunks = chunk_sentences(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), F.col("text"))
        , text_col="text"
    )
    return chunks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("position").cast("int"),
        "content",
        F.col("word_count").cast("long"),
        F.col("sentence_count").cast("long"),
    )


_Q23_SQL = """
SELECT doc_id, CAST(0 AS INT) AS position, text AS content,
  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS word_count,
  CAST(1 AS BIGINT) AS sentence_count
FROM documents WHERE length(trim(text)) > 0
"""


def q24_source_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


_Q24_SQL = (
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY source"
)


def q25_topk_per_lang(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_chars", "rn")
    )


_Q25_SQL = """
SELECT lang, doc_id, n_chars,
  CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS INT) AS rn
FROM documents QUALIFY rn <= 3
"""


def q26_metadata_extract(spark, sf_dir):
    """X8/X9: metadata span JSON -> title/language via the real kernels."""
    from eget_spark.functions.metadata import language_of, title_of

    docs = _t(spark, sf_dir, "documents")
    mk = lambda kind, text, off: F.struct(
        F.lit(kind).alias("kind"),
        text.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    meta_json = F.concat(
        F.lit('{"title": "doc '),
        F.col("doc_id").cast("string"),
        F.lit('", "og:title": "og '),
        F.col("source"),
        F.lit('", "lang": "'),
        F.col("lang"),
        F.lit('"}'),
    )
    spans = F.array(
        mk("metadata", meta_json, 0), mk("paragraph", F.col("text"), 1)
    )
    return docs.select(
        "doc_id",
        title_of(spans).alias("title"),
        language_of(spans).alias("language"),
    )


_Q26_SQL = """
SELECT doc_id, 'doc ' || CAST(doc_id AS VARCHAR) AS title, lang AS language
FROM documents
"""


def q27_pdf_heuristics(spark, sf_dir):
    """C1 text-layer heuristics (is_heading/heading_level/is_list_item,
    pdf_converter.py:359-419) over deterministically constructed lines."""
    from eget_spark.sources.converters import heading_level, is_heading, is_list_item

    docs = _t(spark, sf_dir, "documents")
    line = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("Chapter "), (F.col("doc_id") % 9).cast("string")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("1. "), F.col("source")))
        .when(F.col("doc_id") % 5 == 2, F.upper(F.col("source")))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("- "), F.col("source")))
        .otherwise(F.concat(F.col("source"), F.lit(" ends with a period.")))
    )

    @F.pandas_udf("boolean")
    def h_udf(s: pd.Series) -> pd.Series:
        return s.map(is_heading)

    @F.pandas_udf("int")
    def lvl_udf(s: pd.Series) -> pd.Series:
        return s.map(heading_level).astype("int32")

    @F.pandas_udf("boolean")
    def li_udf(s: pd.Series) -> pd.Series:
        return s.map(is_list_item)

    return docs.select("doc_id", line.alias("line")).select(
        "doc_id",
        "line",
        h_udf(F.col("line")).alias("is_heading"),
        lvl_udf(F.col("line")).alias("level"),
        li_udf(F.col("line")).alias("is_list"),
    )


_Q27_SQL = """
WITH lines AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 5 = 0 THEN 'Chapter ' || CAST(doc_id % 9 AS VARCHAR)
      WHEN doc_id % 5 = 1 THEN '1. ' || source
      WHEN doc_id % 5 = 2 THEN upper(source)
      WHEN doc_id % 5 = 3 THEN '- ' || source
      ELSE source || ' ends with a period.'
    END AS line
  FROM documents
)
SELECT doc_id, line,
  (length(line) <= 100 AND NOT (line LIKE '%.' OR line LIKE '%?' OR line LIKE '%!')
   AND (regexp_matches(line, '^\\d+[\\.\\)]\\s') OR regexp_matches(line, '^[A-Z][^a-z]+$')
        OR regexp_matches(line, '^(Chapter|Section|Part)\\s+\\d+')
        OR regexp_matches(line, '^\\d+\\.\\d+\\s'))) AS is_heading,
  CAST(CASE
    WHEN regexp_matches(line, '^(?i)(Chapter|Book)\\s+\\d+') THEN 1
    WHEN regexp_matches(line, '^(?i)(Section|Part)\\s+\\d+') THEN 2
    WHEN regexp_matches(line, '^\\d+\\.\\d+\\s') THEN 3
    WHEN regexp_matches(line, '^\\d+[\\.\\)]\\s') THEN 3
    WHEN upper(line) = line AND regexp_matches(line, '[a-zA-Z]') THEN 2
    ELSE 3
  END AS INT) AS level,
  (regexp_matches(line, '^\\s*[\\-\\*•]\\s') OR regexp_matches(line, '^\\s*\\d+[\\.\\)]\\s')
   OR regexp_matches(line, '^\\s*[a-z][\\.\\)]\\s') OR regexp_matches(line, '^\\s*\\[[xX\\s]\\]')
   OR regexp_matches(line, '^\\s*[-–—]\\s')) AS is_list
FROM lines
"""


def q28_clean_markdown(spark, sf_dir):
    """X11 cleaning chain (quirk-exact) on constructed noisy markdown."""
    from eget_spark.functions.text import clean_markdown

    docs = _t(spark, sf_dir, "documents")
    noisy = F.concat(
        F.lit("#"),
        F.col("source"),
        F.lit("\n\nline one   \n\n\n\n-item &nbsp; <!-- zap -->\xa0end  "),
    )
    return docs.select("doc_id", clean_markdown(noisy).alias("cleaned"))


# after \s+ -> ' ' the whole thing is one line; then '#src' -> '# src',
# comment stripped, &nbsp; and \xa0 -> ' ', trailing spaces dropped
_Q28_SQL = """
SELECT doc_id,
  rtrim('# ' || source || ' line one -item   '  || ' end') AS cleaned
FROM documents
"""


def q29_bloom_seen(spark, sf_dir):
    """D1: bloom-prefiltered anti-join (not SQL-expressible: the filter is
    a distributed sketch; rows-only check). Candidates = all messy URLs,
    seen = every third; result must equal the exact anti-join."""
    from eget_spark.operators.seen import anti_join_seen, build_bloom

    urls = q02_url_normalize(spark, sf_dir)
    seen = urls.where(F.col("doc_id") % 3 == 0).select("url")
    bloom = build_bloom(seen, "url", expected=2048, fpp=0.05)
    return anti_join_seen(urls, seen, "url", prefilter=bloom).select("doc_id", "url")


_Q29_SQL = f"SELECT doc_id, url FROM ({_Q02_SQL}) WHERE doc_id % 3 <> 0"


def q30_span_kind_counts(spark, sf_dir):
    """A5 converter counters via higher-order span filters."""
    from eget_spark.functions.spans import span_kind_counts

    docs = _t(spark, sf_dir, "documents")
    mk = lambda kind, off: F.struct(
        F.lit(kind).alias("kind"),
        F.lit("t").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    n_img = (F.col("doc_id") % 4).cast("int")
    spans = F.concat(
        F.array(mk("heading", 0), mk("paragraph", 1)),
        F.slice(
            F.array(mk("image", 2), mk("image", 3), mk("image", 4)),
            F.lit(1),
            n_img,
        ),
    )
    return docs.select(
        "doc_id",
        span_kind_counts(spans, "image").cast("long").alias("images_count"),
        span_kind_counts(spans, "heading").cast("long").alias("headings_count"),
    )


_Q30_SQL = """
SELECT doc_id, CAST(least(doc_id % 4, 3) AS BIGINT) AS images_count,
       CAST(1 AS BIGINT) AS headings_count
FROM documents
"""


def q31_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via pigeonhole band blocking + exact Hamming."""
    from eget_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    out = simhash_pairs(docs, "doc_id", "text", bits=32, max_hamming=3, bands=4)
    return out.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("hamming").cast("int"),
    )


def _q31_sql(bits: int = 32, bands: int = 4, max_hamming: int = 3) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    slices = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS band, (simhash >> {b * width}) & {mask} AS slc FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH sigs AS ({_q16_sql(bits)}),
buckets AS ({slices})
SELECT DISTINCT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.slc = b.slc AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def q32_metadata_full(spark, sf_dir):
    """X4 full-parity: the ~25-field rename map (scraper.py:354-483) run by
    the REAL HTML kernel (extract_meta over the stdlib-parser tree) on HTML
    constructed deterministically from the documents table — og renames
    (incl. the generic og{Prop.capitalize()} path), rel-token favicon,
    published_at precedence, author-image regex."""
    from eget_spark.functions.html import extract_meta_col

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat_ws(
        "",
        F.lit('<html lang="'), F.col("lang"), F.lit('"><head>'),
        F.lit("<title> Doc "), did, F.lit(" </title>"),
        F.lit('<meta name="description" content=" about '), F.col("source"), F.lit(' ">'),
        F.lit('<meta property="og:title" content="og '), did, F.lit('">'),
        F.lit('<meta property="og:site_name" content="'), F.col("source"), F.lit('">'),
        F.lit('<meta property="og:image:width" content="'), (F.col("doc_id") % 1000).cast("string"), F.lit('">'),
        F.lit('<meta property="og:locale" content="'), F.col("lang"), F.lit('_XX">'),
        F.lit('<meta name="twitter:card" content="summary">'),
        F.lit('<link rel="canonical" href=" https://c.example/'), did, F.lit(' ">'),
        F.lit('<link rel="shortcut icon" href="/f'), (F.col("doc_id") % 7).cast("string"), F.lit('.ico">'),
        F.lit('<meta name="author" content="au '), F.col("source"), F.lit('">'),
        F.lit('<meta property="article:published_time" content="2024-01-01T00:00:0'), (F.col("doc_id") % 10).cast("string"), F.lit('Z">'),
        F.lit('<meta property="article:section" content="sec'), (F.col("doc_id") % 5).cast("string"), F.lit('">'),
        F.lit('<meta property="fb:app_id" content="fb'), did, F.lit('">'),
        F.lit('</head><body><img alt="x" src="/no.png">'),
        F.lit('<img alt="the author pic" src="/a'), did, F.lit('.png">'),
        F.lit('<time datetime="1999-01-01">ignored</time></body></html>'),
    )
    meta = extract_meta_col(html)
    return docs.select(
        "doc_id",
        meta["title"].alias("title"),
        meta["description"].alias("description"),
        meta["ogTitle"].alias("og_title"),
        meta["ogSiteName"].alias("og_site_name"),
        meta["ogImage:width"].alias("og_image_width"),
        meta["ogLocale"].alias("og_locale"),
        meta["twitter:card"].alias("twitter_card"),
        meta["canonical_url"].alias("canonical_url"),
        meta["favicon"].alias("favicon"),
        meta["authors"].alias("authors"),
        meta["published_at"].alias("published_at"),
        meta["categories"].alias("categories"),
        meta["fb:app_id"].alias("fb_app_id"),
        meta["author_images"].alias("author_images"),
        meta["language"].alias("language"),
    )


_Q32_SQL = """
SELECT doc_id,
  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
  'about ' || source AS description,
  'og ' || CAST(doc_id AS VARCHAR) AS og_title,
  source AS og_site_name,
  CAST(doc_id % 1000 AS VARCHAR) AS og_image_width,
  lang || '_XX' AS og_locale,
  'summary' AS twitter_card,
  'https://c.example/' || CAST(doc_id AS VARCHAR) AS canonical_url,
  '/f' || CAST(doc_id % 7 AS VARCHAR) || '.ico' AS favicon,
  'au ' || source AS authors,
  '2024-01-01T00:00:0' || CAST(doc_id % 10 AS VARCHAR) || 'Z' AS published_at,
  'sec' || CAST(doc_id % 5 AS VARCHAR) AS categories,
  'fb' || CAST(doc_id AS VARCHAR) AS fb_app_id,
  '/a' || CAST(doc_id AS VARCHAR) || '.png' AS author_images,
  lang AS language
FROM documents
"""


def q33_json_ld(spark, sf_dir):
    """X8/X10 end-to-end: <script type="application/ld+json"> harvest with
    skip-malformed semantics (structured_data.py:40-53) + the full
    StructuredData struct (jsonLd/openGraph/twitterCard/metaData incl. the
    language primary-subtag chain, models/response.py:15-19)."""
    from eget_spark.functions.html import extract_structured_col

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    ld1 = F.concat(
        F.lit('{"@context":"https://schema.org","@type":"Article","headline":"h'),
        did,
        F.lit('","wordCount":'),
        (F.col("n_chars") % 997).cast("string"),
        F.lit("}"),
    )
    # every even doc carries a second valid block; every doc carries one
    # malformed block (must be skipped) and one non-ld script (ignored)
    second = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit('<script type="application/ld+json">{"@type":"Person","name":"p'), did, F.lit('"}</script>')),
    ).otherwise(F.lit(""))
    html = F.concat_ws(
        "",
        F.lit('<html lang="'), F.col("lang"), F.lit('-XX"><head>'),
        F.lit('<script type="application/ld+json">'), ld1, F.lit("</script>"),
        second,
        F.lit('<script type="application/ld+json">{broken</script>'),
        F.lit("<script>plain()</script>"),
        F.lit('<meta property="og:title" content="t'), did, F.lit('">'),
        F.lit("</head></html>"),
    )
    sd = extract_structured_col(html)
    return docs.select(
        "doc_id",
        F.size(sd["jsonLd"]).cast("int").alias("n_json_ld"),
        F.get_json_object(sd["jsonLd"][0], "$.headline").alias("headline"),
        F.get_json_object(sd["jsonLd"][0], "$.wordCount").cast("long").alias("word_count"),
        sd["openGraph"]["title"].alias("og_title"),
        sd["metaData"]["language"].alias("language"),
    )


_Q33_SQL = """
SELECT doc_id,
  CAST(1 + (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS INT) AS n_json_ld,
  'h' || CAST(doc_id AS VARCHAR) AS headline,
  CAST(n_chars % 997 AS BIGINT) AS word_count,
  't' || CAST(doc_id AS VARCHAR) AS og_title,
  lang AS language
FROM documents
"""


def q34_renamed_metadata_spans(spark, sf_dir):
    """X4 rename map on the SPAN corpus side (metadata_renamed_map — pure
    JVM transform_keys) + X8 jsonld spans + the full X10 struct, over spans
    constructed from the documents table."""
    from eget_spark.functions.metadata import (
        json_ld_of,
        metadata_renamed_map,
        validated_structured_data,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    meta_json = F.concat(
        F.lit('{"title": "t'), did,
        F.lit('", "og:title": "ot'), did,
        F.lit('", "og:site_name": "'), F.col("source"),
        F.lit('", "og:image:width": "'), (F.col("doc_id") % 333).cast("string"),
        F.lit('", "lang": "'), F.col("lang"), F.lit('"}'),
    )
    mk = lambda kind, text, off: F.struct(
        F.lit(kind).alias("kind"),
        text.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    ld = F.concat(F.lit('{"@type":"Thing","n":'), (F.col("n_chars") % 41).cast("string"), F.lit("}"))
    spans = F.array(
        mk("metadata", meta_json, 0), mk("jsonld", ld, 1), mk("paragraph", F.col("text"), 2)
    )
    renamed = metadata_renamed_map(spans)
    sd = validated_structured_data(spans)
    return docs.select(
        "doc_id",
        renamed["ogTitle"].alias("og_title"),
        renamed["ogSiteName"].alias("og_site_name"),
        renamed["ogImage:width"].alias("og_image_width"),
        renamed["language"].alias("language"),
        renamed["title"].alias("title"),
        F.size(json_ld_of(spans)).cast("int").alias("n_json_ld"),
        F.get_json_object(sd["jsonLd"][0], "$.n").cast("long").alias("ld_n"),
    )


_Q34_SQL = """
SELECT doc_id,
  'ot' || CAST(doc_id AS VARCHAR) AS og_title,
  source AS og_site_name,
  CAST(doc_id % 333 AS VARCHAR) AS og_image_width,
  lang AS language,
  't' || CAST(doc_id AS VARCHAR) AS title,
  CAST(1 AS INT) AS n_json_ld,
  CAST(n_chars % 41 AS BIGINT) AS ld_n
FROM documents
"""


def q35_robots_wildcard(spark, sf_dir):
    """F5 full dialect: RFC 9309 `*`/`$` wildcard rules with Allow
    precedence, first-match-in-order (RobotExclusionRulesParser semantics)
    via the Arrow-vectorized rules matcher, on URLs derived per-document.

    Rules for every src host: Allow /p/1*, then Disallow /p/*7$, then
    Disallow /x/ — so paths under /p/1... are allowed even ending in 7."""
    from eget_spark.operators.links import robots_allowed

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"),
            F.when(F.col("doc_id") % 5 == 4, F.lit("/x/")).otherwise(F.lit("/p/")),
            (F.col("doc_id") % 200).cast("string"),
        ).alias("url"),
    )
    hosts = [f"src{i}.example.com" for i in range(20)]
    rules = [(True, "/p/1*"), (False, "/p/*7$"), (False, "/x/")]
    robots = spark.createDataFrame(
        [(h, [], 0.0, rules) for h in hosts],
        "host string, disallow_prefixes array<string>, crawl_delay double, "
        "rules array<struct<allow:boolean,pattern:string>>",
    )
    return robots_allowed(urls, robots).select("doc_id", "url")


_Q35_SQL = """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com' ||
      (CASE WHEN doc_id % 5 = 4 THEN '/x/' ELSE '/p/' END) ||
      CAST(doc_id % 200 AS VARCHAR) AS url,
    (CASE WHEN doc_id % 5 = 4 THEN '/x/' ELSE '/p/' END) ||
      CAST(doc_id % 200 AS VARCHAR) AS path
  FROM documents
)
SELECT doc_id, url FROM u
WHERE CASE
  WHEN regexp_matches(path, '^/p/1') THEN TRUE       -- Allow /p/1* (first match)
  WHEN regexp_matches(path, '^/p/.*7$') THEN FALSE   -- Disallow /p/*7$
  WHEN regexp_matches(path, '^/x/') THEN FALSE       -- Disallow /x/
  ELSE TRUE
END
"""


def q36_politeness_budget(spark, sf_dir):
    """O2/O3: per-host crawl-delay budgets via the column-side scheduler
    (no driver dict); budget = max(1, floor(window/delay)), rank by seq
    within host. Oracle = the same window rank in SQL (nsalt=1 regime)."""
    from eget_spark.operators.politeness import schedule_round

    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias("host"),
        F.concat(F.lit("https://h"), (F.col("doc_id") % 40).cast("string"),
                 F.lit("/p/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(1).alias("depth"),
        F.lit(None).cast("string").alias("parent_url"),
        F.col("doc_id").cast("long").alias("seq"),
    )
    # hosts h0..h19 delayed (delay 2.0 -> budget 5 at window 10); h20+ free
    robots = spark.createDataFrame(
        [(f"h{i}", [], 2.0 if i < 20 else 0.0) for i in range(40)],
        "host string, disallow_prefixes array<string>, crawl_delay double",
    )
    fetch_now, deferred = schedule_round(frontier, robots, round_window=10.0)
    return fetch_now.select("host", "url", "seq").unionByName(
        deferred.select("host", "url", "seq").withColumn("host", F.concat(F.lit("deferred:"), F.col("host")))
    )


_Q36_SQL = """
WITH f AS (
  SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS host,
         'https://h' || CAST(doc_id % 40 AS VARCHAR) || '/p/' || CAST(doc_id AS VARCHAR) AS url,
         CAST(doc_id AS BIGINT) AS seq,
         doc_id % 40 AS hid
  FROM documents
),
ranked AS (
  SELECT host, url, seq, hid,
         row_number() OVER (PARTITION BY host ORDER BY seq) AS rk
  FROM f
)
SELECT CASE WHEN hid < 20 AND rk > 5 THEN 'deferred:' || host ELSE host END AS host,
       url, seq
FROM ranked
"""


def q37_dedup_groups(spark, sf_dir):
    """Dedup GROUPS: connected components (hash-min label propagation) over
    the MinHash-LSH near-dup pair set -> every document's canonical keep_id
    + duplicate flag. Oracle = recursive-CTE reachability min."""
    from eget_spark.operators.dedup import dedup_groups

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, bands=4, k=3)
    out = dedup_groups(docs, pairs, "doc_id")
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("keep_id").cast("long").alias("keep_id"),
        "is_duplicate",
    )


def _q37_sql() -> str:
    return f"""
WITH RECURSIVE
pairs AS ({_q14_sql()}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM e),
reach AS (
  SELECT id, id AS member FROM nodes
  UNION
  SELECT r.id, e.b FROM reach r JOIN e ON e.a = r.member
),
comp AS (SELECT id, min(member) AS component FROM reach GROUP BY id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS keep_id,
       coalesce(c.component, d.doc_id) <> d.doc_id AS is_duplicate
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""


def q38_media_decode(spark, sf_dir):
    """Multimodal plumbing: synth binary payloads -> mapInPandas decode ->
    typed metadata aggregates. The payload header is deterministic in the
    row index (functions/media.py fake codec), so DuckDB reproduces the
    aggregates from the same arithmetic — a real oracle for the decode
    path's values, not just row counts."""
    from eget_spark.functions.media import decode_media, synth_media

    n = _t(spark, sf_dir, "documents").count()
    media = synth_media(spark, n=n)
    return (
        decode_media(media)
        .groupBy("kind")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("width").cast("long").alias("sum_width"),
            F.sum("height").cast("long").alias("sum_height"),
            F.sum("n_frames").cast("long").alias("sum_frames"),
        )
    )


_Q38_SQL = """
WITH m AS (
  SELECT i,
    CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    64 + (i % 8) * 32 AS width,
    64 + (i % 5) * 32 AS height,
    1 + (i % 30) AS n_frames
  FROM (SELECT CAST(row_number() OVER () - 1 AS BIGINT) AS i FROM documents)
)
SELECT kind, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(width) AS BIGINT) AS sum_width,
       CAST(sum(height) AS BIGINT) AS sum_height,
       CAST(sum(n_frames) AS BIGINT) AS sum_frames
FROM m GROUP BY kind
"""


def q39_stopword_ratio(spark, sf_dir):
    """Quality-filter stopword-ratio signal over text with injected
    function words (the synthetic vocab has none, so the doc text is
    padded deterministically)."""
    from eget_spark.functions.text import stopword_ratio

    docs = _t(spark, sf_dir, "documents")
    padded = F.concat(
        F.col("text"),
        F.lit(" the and a of to in is"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(" the the notaword")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", stopword_ratio(padded).alias("stop_ratio"))


_Q39_SQL = """
WITH t AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(
      text || ' the and a of to in is' ||
      CASE WHEN doc_id % 2 = 0 THEN ' the the notaword' ELSE '' END
    )), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
  round(CAST(len(list_filter(toks, x -> list_contains(
    ['the','a','an','and','or','but','of','to','in','on','at','for','with',
     'by','from','as','is','are','was','were','be','been','it','its','this',
     'that','these','those','he','she','they','we','you','i','not','no','do',
     'does','did','have','has','had','will','would','can','could','their',
     'his','her'], x))) AS DOUBLE) / len(toks), 6) AS stop_ratio
FROM t
"""


def _arith_edges(spark, sf_dir):
    """(nodes, edges) of the analytics link graph: one affine and two
    quadratic maps mod n — deliberately NOT bijective (unlike q01's crawl
    graph), so in-degrees vary and PageRank has a non-uniform fixpoint
    (a regular graph would make both q40 and q41 degenerate)."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    d = F.col("doc_id")
    edge = lambda expr: docs.select(d.alias("src"), (expr % n).alias("dst"))
    edges = (
        edge(d * 7 + 13)
        .unionAll(edge(d * d * 3 + 5))
        .unionAll(edge(d * d + d * 5 + 11))
    )
    nodes = docs.select(d.alias("id"))
    return nodes, edges


_EDGES_SQL = """
n AS (SELECT count(*) AS c FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id*7+13) % (SELECT c FROM n) AS dst FROM documents
  UNION ALL SELECT doc_id, (doc_id*doc_id*3+5) % (SELECT c FROM n) FROM documents
  UNION ALL SELECT doc_id, (doc_id*doc_id+doc_id*5+11) % (SELECT c FROM n) FROM documents
)"""


def q40_pagerank(spark, sf_dir):
    """Graph op: 5-iteration fixed-point PageRank over the analytics link
    graph — the frontier-priority source for priority crawls
    (schedule_round order_cols).  Ranks are int64 in units of 1e-12, all
    arithmetic integer (operators/graph.pagerank_fixed), so the result is
    bit-exact vs the unrolled-CTE SQL oracle with no float-tie fragility."""
    from eget_spark.operators.graph import pagerank_fixed

    nodes, edges = _arith_edges(spark, sf_dir)
    pr = pagerank_fixed(nodes, edges, n_iter=5)
    return pr.select(F.col("id").alias("doc_id"), "pr_fp")


def _q40_sql(n_iter: int = 5, damp_num: int = 17, damp_den: int = 20, scale: int = 10**12) -> str:
    base = f"(({scale} * {damp_den - damp_num}) // {damp_den}) // (SELECT c FROM n)"
    parts = [
        "WITH ",
        _EDGES_SQL.lstrip(),
        ",\nodeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        f",\np0 AS (SELECT doc_id AS id, {scale} // (SELECT c FROM n) AS pr_fp FROM documents)",
    ]
    for i in range(1, n_iter + 1):
        dang = (
            f"(SELECT coalesce(sum(p.pr_fp), 0) FROM p{i-1} p "
            f"LEFT JOIN odeg o ON o.src = p.id WHERE o.src IS NULL)"
        )
        parts.append(
            f""",
p{i} AS (
  SELECT d.doc_id AS id,
         CAST({base}
              + ({damp_num} * (coalesce(s.contrib, 0)
                               + {dang} // (SELECT c FROM n))) // {damp_den}
           AS BIGINT) AS pr_fp
  FROM documents d LEFT JOIN (
    SELECT e.dst AS id, sum(p.pr_fp // o.od) AS contrib
    FROM edges e JOIN odeg o ON o.src = e.src JOIN p{i-1} p ON p.id = e.src
    GROUP BY e.dst) s ON s.id = d.doc_id)"""
        )
    parts.append(f"\nSELECT id AS doc_id, pr_fp FROM p{n_iter}")
    return "".join(parts)


def q41_indegree_hist(spark, sf_dir):
    """Graph op: in-degree distribution over the link graph (hub-skew
    check before salting decisions)."""
    from eget_spark.operators.graph import in_degree_histogram

    nodes, edges = _arith_edges(spark, sf_dir)
    return in_degree_histogram(edges, nodes)


_Q41_SQL = f"""
WITH {_EDGES_SQL.lstrip()},
deg AS (SELECT dst, count(*) AS in_deg FROM edges GROUP BY dst),
per_node AS (
  SELECT d.doc_id, coalesce(g.in_deg, 0) AS in_deg
  FROM documents d LEFT JOIN deg g ON g.dst = d.doc_id
)
SELECT in_deg, count(*) AS n_nodes FROM per_node GROUP BY in_deg
"""


def q42_char_entropy(spark, sf_dir):
    """Quality signal: Shannon character entropy per document (relational
    explode->count->window form, functions/text.char_entropy_df). ASCII
    corpus: Spark's split-on-empty (code units) == DuckDB's per-code-point
    regexp."""
    from eget_spark.functions.text import char_entropy_df

    return char_entropy_df(_t(spark, sf_dir, "documents"), "doc_id", "text")


_Q42_SQL = r"""
WITH chars AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch FROM documents
),
counts AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
wl AS (
  SELECT doc_id, c, CAST(sum(c) OVER (PARTITION BY doc_id) AS DOUBLE) AS L
  FROM counts
),
ent AS (
  SELECT doc_id,
         round(-sum((c / L) * log2(c / L)) + 0.0, 6) AS char_entropy
  FROM wl GROUP BY doc_id
)
SELECT d.doc_id, coalesce(e.char_entropy, 0.0) AS char_entropy
FROM documents d LEFT JOIN ent e ON e.doc_id = d.doc_id
"""


def q43_tfidf_topk(spark, sf_dir):
    """Corpus statistics: top-3 TF-IDF terms per document
    (functions/text.tfidf_top_terms; WindowGroupLimit top-k)."""
    from eget_spark.functions.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), "doc_id", "text", k=3)


_Q43_SQL = r"""
WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM documents),
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, term, tf * ln((SELECT c FROM n) / df) AS tfidf
  FROM tf JOIN dfreq USING (term)
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY round(tfidf, 6) DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, round(tfidf, 6) AS tfidf, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
"""


def q44_cuckoo_seen(spark, sf_dir):
    """D1 via the cuckoo filter (operators/cuckoo.py) WITH expiry: seen =
    every third URL, then every 15th is deleted from the filter (recrawl —
    the operation a bloom cannot do); result must equal the exact anti-join
    against the post-expiry seen set.  The delete list is a driver-side
    sketch mutation (expiry API), not a data-plane collect."""
    from eget_spark.operators.cuckoo import build_cuckoo
    from eget_spark.operators.seen import anti_join_seen

    urls = q02_url_normalize(spark, sf_dir)
    seen = urls.where(F.col("doc_id") % 3 == 0).select("url")
    cf = build_cuckoo(seen, "url", expected=8192, n_shards=8)
    expired = [
        r["url"]
        for r in urls.where(F.col("doc_id") % 15 == 0).select("url").collect()
    ]
    cf.delete_many(expired)
    seen_after = urls.where(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 15 != 0)
    ).select("url")
    return anti_join_seen(urls, seen_after, "url", prefilter=cf).select(
        "doc_id", "url"
    )


_Q44_SQL = (
    f"SELECT doc_id, url FROM ({_Q02_SQL}) "
    "WHERE doc_id % 3 <> 0 OR doc_id % 15 = 0"
)


def q45_srp_lsh_pairs(spark, sf_dir):
    """Embedding near-dup via signed-random-projection LSH (no label
    blocking): deterministic integer hyperplanes -> sign bits -> band join
    (first-band-wins) -> exact cosine verify. operators/dedup.srp_lsh_pairs."""
    from eget_spark.operators.dedup import srp_lsh_pairs

    emb = _t(spark, sf_dir, "embeddings")
    # synthetic embeddings are low-cosine (max pairwise ~0.51): 0.35 keeps
    # a non-trivial surviving pair set after the band filter
    return srp_lsh_pairs(emb, "vec_id", "embedding", n_bits=16, bands=4, threshold=0.35)


def _q45_sql(n_bits: int = 16, bands: int = 4, threshold: float = 0.9, seed: int = 1) -> str:
    r = n_bits // bands
    bits = (
        f"list_transform(generate_series(0, {n_bits - 1}), i -> "
        "CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), d -> "
        f"CAST(embedding[d] AS DOUBLE) * (((i*2654435761 + (d-1)*40503 + {seed}) % 2001) - 1000)"
        ")) >= 0 THEN 1 ELSE 0 END)"
    )
    band_list = ", ".join(
        f"array_to_string(bits[{b * r + 1}:{b * r + r}], '')" for b in range(bands)
    )
    orcond = " OR ".join(f"a.sigs[{b + 1}] = b.sigs[{b + 1}]" for b in range(bands))
    ip = lambda x, y: (
        "list_sum(list_transform(generate_series(1, len(a.embedding)), i -> "
        f"CAST({x}.embedding[i] AS DOUBLE) * CAST({y}.embedding[i] AS DOUBLE)))"
    )
    return f"""
WITH sig AS (SELECT vec_id AS id, embedding, {bits} AS bits FROM embeddings),
sb AS (SELECT id, embedding, [{band_list}] AS sigs FROM sig),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         round({ip('a', 'b')} / (sqrt({ip('a', 'a')}) * sqrt({ip('b', 'b')})), 6) AS cosine
  FROM sb a JOIN sb b ON a.id < b.id AND ({orcond})
)
SELECT id_a, id_b, cosine FROM cand WHERE cosine >= {threshold}
"""


def q46_priority_schedule(spark, sf_dir):
    """O2/O3 priority variant: each delayed host's budget goes to its
    highest-priority pending URLs (priority desc, then FIFO seq) — the
    north-star per-host priority queue as schedule_round order_cols.
    Priority = doc_id % 7 (derived, deterministic).  Oracle = the same
    window rank in SQL."""
    from eget_spark.operators.politeness import schedule_round

    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias("host"),
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 40).cast("string"),
            F.lit("/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.lit(1).alias("depth"),
        F.lit(None).cast("string").alias("parent_url"),
        F.col("doc_id").cast("long").alias("seq"),
        (F.col("doc_id") % 7).cast("double").alias("priority"),
    )
    robots = spark.createDataFrame(
        [(f"h{i}", [], 2.0 if i < 20 else 0.0) for i in range(40)],
        "host string, disallow_prefixes array<string>, crawl_delay double",
    )
    fetch_now, deferred = schedule_round(
        frontier, robots, round_window=10.0,
        order_cols=[F.desc("priority"), "seq"],
    )
    keep = ["host", "url", "seq"]
    return fetch_now.select(*keep).unionByName(
        deferred.select(*keep).withColumn(
            "host", F.concat(F.lit("deferred:"), F.col("host"))
        )
    )


_Q46_SQL = """
WITH f AS (
  SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS host,
         'https://h' || CAST(doc_id % 40 AS VARCHAR) || '/p/' || CAST(doc_id AS VARCHAR) AS url,
         CAST(doc_id AS BIGINT) AS seq,
         doc_id % 40 AS hid,
         doc_id % 7 AS priority
  FROM documents
),
ranked AS (
  SELECT host, url, seq, hid,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, seq) AS rk
  FROM f
)
SELECT CASE WHEN hid < 20 AND rk > 5 THEN 'deferred:' || host ELSE host END AS host,
       url, seq
FROM ranked
"""


def q47_stratified_sample(spark, sf_dir):
    """Training-pipeline corpus balancing: deterministic stratified sample
    — 7 docs per source, chosen by md5('s1' || doc_id) order
    (operators/sampling.stratified_sample; WindowGroupLimit top-k)."""
    from eget_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(docs, "source", 7, "doc_id", seed="s1")


_Q47_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('s1' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rk <= 7
"""


def q48_anchor_stats(spark, sf_dir):
    """Backlink profile: anchor-text counts per link target, harvested from
    the span corpus via the higher-order link walk
    (functions/spans.link_anchor_pairs) — anchors derived as 'a'||(src%5)
    so the histogram is non-trivial."""
    from eget_spark.functions.spans import link_anchor_pairs

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    d = F.col("doc_id")
    url = lambda c: F.concat(F.lit(_URL_PREFIX), c.cast("string"))
    anchor = F.concat(F.lit("a"), (d % 5).cast("string"))
    mk = lambda dst, off: F.struct(
        F.lit("link").alias("kind"),
        anchor.alias("text"),
        url(dst).alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    corp = docs.select(
        F.array(
            mk((d * 7 + 13) % n, 0),
            mk((d * 11 + 5) % n, 1),
            mk((d * 13 + 7) % n, 2),
        ).alias("spans")
    )
    pairs = corp.select(
        F.explode(link_anchor_pairs(F.col("spans"))).alias("p")
    ).select("p.target", "p.anchor")
    return pairs.groupBy("target", "anchor").agg(F.count("*").alias("n_links"))


_Q48_SQL = """
WITH n AS (SELECT count(*) AS c FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id*7+13) % (SELECT c FROM n) AS dst FROM documents
  UNION ALL SELECT doc_id, (doc_id*11+5) % (SELECT c FROM n) FROM documents
  UNION ALL SELECT doc_id, (doc_id*13+7) % (SELECT c FROM n) FROM documents
)
SELECT 'https://crawl.test/p/' || CAST(dst AS VARCHAR) AS target,
       'a' || CAST(src % 5 AS VARCHAR) AS anchor,
       count(*) AS n_links
FROM e GROUP BY target, anchor
"""


def q49_docx_convert(spark, sf_dir):
    """C2 end-to-end on real bytes: 24 .docx archives are synthesized
    in-memory (stdlib ooxml writer), decoded by the stdlib
    zipfile+ElementTree path inside convert_files' distributed
    mapInPandas, and exploded to one row per span.  Every field of every
    block derives from simple arithmetic on the file index, so DuckDB
    reproduces the EXPECTED span table (kind, text, order) independently
    — including the reference walk quirk that a same-level numId run
    keeps only its last list item (docx_converter.py:259-272)."""
    from eget_spark.sources.converters import convert_files
    from eget_spark.sources.ooxml import build_docx_bytes

    n = 24
    rows = []
    for i in range(n):
        blocks = [
            {"type": "heading", "text": f"Doc {i}", "level": (i % 3) + 1},
            {
                "type": "paragraph",
                "runs": [
                    (f"alpha{i}", i % 2 == 0, False, False),
                    (f"beta{i}", False, i % 3 == 0, False),
                ],
            },
            {"type": "list", "items": [f"item {i} first", f"item {i} last"]},
            {"type": "paragraph", "runs": [(f"closing {i}", False, False, False)]},
            {"type": "table", "rows": [["k", "v"], [f"r{i}", str(i * i)]]},
        ]
        rows.append((f"mem://docx/{i:04d}.docx", bytearray(build_docx_bytes(blocks))))
    files = spark.createDataFrame(rows, "path string, content binary")
    return (
        convert_files(files, dedupe_content=False)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.offset").cast("int").alias("pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
        )
    )


_Q49_SQL = r"""
WITH i AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 24)),
spans AS (
  SELECT i, 0 AS pos, 'heading' AS kind,
         repeat('#', CAST(i % 3 + 1 AS INT)) || ' Doc ' || i AS text FROM i
  UNION ALL
  SELECT i, 1, 'paragraph',
         CASE WHEN i % 2 = 0 THEN '**alpha' || i || '**' ELSE 'alpha' || i END ||
         CASE WHEN i % 3 = 0 THEN '*beta' || i || '*' ELSE 'beta' || i END FROM i
  UNION ALL
  SELECT i, 2, 'list', 'item ' || i || ' last' FROM i
  UNION ALL
  SELECT i, 3, 'paragraph', 'closing ' || i FROM i
  UNION ALL
  SELECT i, 4, 'table',
         'k' || chr(9) || 'v' || chr(10) || 'r' || i || chr(9) || (i * i) FROM i
)
SELECT 'mem://docx/' || lpad(CAST(i AS VARCHAR), 4, '0') || '.docx' AS doc_id,
       CAST(pos AS INT) AS pos, kind, text
FROM spans
"""


def q50_ttl_recrawl(spark, sf_dir):
    """TTL/recrawl (plans/crawl.recrawl — cache_service.py:77-99 Redis-TTL
    semantics as dataflow): run the q01 crawl, expire every URL whose doc
    id % 3 == 0, recrawl.  With an unchanged corpus the refetched set must
    be EXACTLY the expired subset at its prior depths — which the oracle
    reconstructs independently as the BFS min-depth set filtered by the
    same arithmetic predicate."""
    from eget_spark.plans.crawl import CrawlConfig, crawl, recrawl

    corpus = _graph_corpus(spark, sf_dir).persist()
    corpus.count()
    cfg = CrawlConfig(
        seed_urls=[f"{_URL_PREFIX}0"],
        max_depth=6,
        max_pages=1_000_000_000,
        respect_robots_txt=False,
        fast_normalize=True,
    )
    prior = crawl(spark, corpus, cfg, robots=None)
    doc_num = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    expired = prior.order.where(doc_num % 3 == 0).select("url")
    res = recrawl(spark, corpus, cfg, prior, expired, robots=None)
    out = res.order.select("url", F.col("depth").cast("int").alias("depth"))
    corpus.unpersist()
    return out


_Q50_SQL = """
WITH RECURSIVE
n AS (SELECT count(*) AS c FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id*7+13) % (SELECT c FROM n) AS dst FROM documents
  UNION ALL SELECT doc_id, (doc_id*11+5) % (SELECT c FROM n) FROM documents
  UNION ALL SELECT doc_id, (doc_id*13+7) % (SELECT c FROM n) FROM documents
),
bfs AS (
  SELECT CAST(0 AS BIGINT) AS id, 0 AS depth
  UNION ALL
  SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.id WHERE b.depth < 6
)
SELECT 'https://crawl.test/p/' || CAST(id AS VARCHAR) AS url,
       CAST(min(depth) AS INT) AS depth
FROM bfs GROUP BY id HAVING id % 3 = 0
"""


def q51_xlsx_convert(spark, sf_dir):
    """C3 end-to-end on real bytes: 16 .xlsx workbooks synthesized
    in-memory (stdlib ooxml writer) — two sheets each, the second with an
    empty first row so the reference's row-1-only content gate
    (xlsx_converter.py:96-104) must drop it — decoded by the stdlib
    zipfile+ElementTree path inside convert_files, exploded to span rows.
    Cell values (ints, floats, strings, bools) derive from arithmetic on
    the file index so DuckDB reproduces the expected spans independently,
    including X20 formatting (float->int collapse, bool str())."""
    from eget_spark.sources.converters import convert_files
    from eget_spark.sources.ooxml import build_xlsx_bytes

    n = 16
    rows = []
    for i in range(n):
        sheets = [
            (
                f"S{i}",
                [
                    ["name", "qty", "ok"],
                    [f"row{i}", float(i * 3), i % 2 == 0],
                    [f"alt{i}", i + 0.5, None],
                ],
            ),
            ("Hidden", [[None, None], ["never", "seen"]]),
        ]
        rows.append((f"mem://xlsx/{i:04d}.xlsx", bytearray(build_xlsx_bytes(sheets))))
    files = spark.createDataFrame(rows, "path string, content binary")
    return (
        convert_files(files, dedupe_content=False)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.offset").cast("int").alias("pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
        )
    )


_Q51_SQL = r"""
WITH i AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 16)),
spans AS (
  SELECT i, 0 AS pos, 'heading' AS kind, '## Sheet: S' || i AS text FROM i
  UNION ALL
  SELECT i, 1, 'table',
    'name' || chr(9) || 'qty' || chr(9) || 'ok' || chr(10) ||
    'row' || i || chr(9) || (i * 3) || chr(9) ||
      CASE WHEN i % 2 = 0 THEN 'True' ELSE 'False' END || chr(10) ||
    'alt' || i || chr(9) || (i + 0.5) || chr(9)
  FROM i
)
-- the trailing chr(9): the walk pads short rows back to max_cols with ''
-- (xlsx_converter.py:104-151), so the tab-joined row ends in an empty cell
SELECT 'mem://xlsx/' || lpad(CAST(i AS VARCHAR), 4, '0') || '.xlsx' AS doc_id,
       CAST(pos AS INT) AS pos, kind, text
FROM spans
"""


def q52_png_decode(spark, sf_dir):
    """Multimodal, REAL codec: 40 PNG payloads (stdlib encoder, gradient
    pixels) with index-derived dimensions go through decode_media's
    header-only IHDR sizing inside mapInPandas; DuckDB reproduces the
    per-bucket dimension aggregates from the same arithmetic.  Unlike q38
    (fake-codec plumbing), the bytes here are genuine PNGs."""
    import numpy as np

    from eget_spark.functions.media import decode_media
    from eget_spark.functions.png import encode_png

    n = 40
    rows = []
    for i in range(n):
        w, h = 16 + (i % 7) * 8, 16 + (i % 5) * 8
        # deterministic gradient, no RNG
        arr = (
            (np.arange(h)[:, None] * 3 + np.arange(w)[None, :] * 5 + i) % 256
        ).astype(np.uint8)
        rows.append(
            (
                f"png{i:03d}",
                "image",
                bytearray(encode_png(arr)),
                (0, 0, 0, 0),
            )
        )
    media = spark.createDataFrame(
        rows,
        "media_ref string, kind string, payload binary, "
        "meta struct<width:int,height:int,n_frames:int,bytes:long>",
    )
    return (
        decode_media(media)
        .groupBy((F.regexp_extract("media_ref", r"(\d+)$", 1).cast("long") % 7).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("width").cast("long").alias("sum_width"),
            F.sum("height").cast("long").alias("sum_height"),
        )
    )


_Q52_SQL = """
WITH i AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 40))
SELECT i % 7 AS bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(16 + (i % 7) * 8) AS BIGINT) AS sum_width,
       CAST(sum(16 + (i % 5) * 8) AS BIGINT) AS sum_height
FROM i GROUP BY bucket
"""


def q53_contamination(spark, sf_dir):
    """Training-data decontamination (GPT-3 appendix-C recipe): flag every
    corpus doc sharing a word 5-gram with the 'benchmark' slice
    (doc_id % 97 == 0).  Benchmark docs flag themselves (that IS
    contamination); chance 5-gram collisions between random-vocab docs
    are counted identically by both engines.  Spark: codegen shingles +
    broadcast-hash join (operators/decontaminate.py); oracle: DuckDB
    list-slice n-grams + join."""
    from eget_spark.operators.decontaminate import contamination_flags

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    bench = docs.where(F.col("doc_id").cast("long") % 97 == 0)
    return contamination_flags(docs, bench, n=5).select(
        F.col("id").cast("long").alias("doc_id"),
        "n_bench_texts",
        "n_shared_grams",
    )


_Q53_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                             x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS s
  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 5
  UNION
  SELECT doc_id, array_to_string(t, ' ') FROM toks WHERE len(t) < 5
),
d AS (SELECT DISTINCT doc_id, s FROM grams),
b AS (SELECT DISTINCT doc_id AS bench_id, s FROM grams WHERE doc_id % 97 = 0),
pairs AS (
  SELECT d.doc_id, b.bench_id, count(*) AS n_shared
  FROM d JOIN b USING (s)
  GROUP BY d.doc_id, b.bench_id
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_texts,
       CAST(sum(n_shared) AS BIGINT) AS n_shared_grams
FROM pairs GROUP BY doc_id
"""


def q54_proportional_mix(spark, sf_dir):
    """Corpus mixing to target domain proportions (the reweighting step of
    a training-data pipeline): 60% src0 / 30% src1 / 10% src2 of a
    40-doc budget, everything else dropped; rows chosen in the same
    stable md5-of-id order as q47 so the mix is deterministic and
    engine-reproducible (operators/sampling.proportional_mix)."""
    from eget_spark.operators.sampling import proportional_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return proportional_mix(
        docs, "source", {"src0": 0.6, "src1": 0.3, "src2": 0.1}, 40,
        "doc_id", seed="m1",
    )


_Q54_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('m1' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, source FROM ranked
WHERE (source = 'src0' AND rk <= 24)
   OR (source = 'src1' AND rk <= 12)
   OR (source = 'src2' AND rk <= 4)
"""


_Q55_URLS = """
CASE WHEN doc_id % 7 = 0
     THEN 'https://trap.example.com/cal/' || doc_id || '/day/' || (doc_id % 12)
     WHEN doc_id % 3 = 0
     THEN 'https://h' || (doc_id % 5) || '.example.com/about'
     WHEN doc_id % 3 = 1
     THEN 'https://h' || (doc_id % 5) || '.example.com/p/' || doc_id
     ELSE 'https://h' || (doc_id % 5) || '.example.com/q?id=' || doc_id
          || '&tok=' || md5(CAST(doc_id AS STRING))
END
"""


def q55_trap_scores(spark, sf_dir):
    """Spider-trap analytics (operators/traps.py): URL-template mining
    over an arithmetic URL corpus — digit runs -> N, >=8-char hex (the
    md5 session token) -> H, query values -> V; per host the dominant
    template's share is the trap score. The synthetic trap host collapses
    to ONE template (score 1.0); real hosts spread across several."""
    from eget_spark.operators.traps import trap_scores

    urls = _t(spark, sf_dir, "documents").selectExpr(f"({_Q55_URLS}) AS url")
    return trap_scores(urls)


_Q55_SQL = f"""
WITH urls AS (SELECT ({_Q55_URLS}) AS url FROM documents),
t AS (
  SELECT regexp_extract(url, '^https://([^/]+)', 1) AS host,
         regexp_replace(
           regexp_replace(
             regexp_replace(url, '[0-9a-fA-F]{{8,}}', 'H', 'g'),
             '\\d+', 'N', 'g'),
           '=([^&#/]*)', '=V', 'g') AS template
  FROM urls
),
tc AS (SELECT host, template, count(*) AS n_urls FROM t GROUP BY host, template),
ranked AS (
  SELECT host, template, n_urls,
         row_number() OVER (
           PARTITION BY host ORDER BY n_urls DESC, template DESC
         ) AS rk,
         sum(n_urls) OVER (PARTITION BY host) AS tot,
         count(*) OVER (PARTITION BY host) AS ntpl,
         max(n_urls) OVER (PARTITION BY host) AS topn
  FROM tc
)
SELECT host, CAST(tot AS BIGINT) AS n_urls, CAST(ntpl AS BIGINT) AS n_templates,
       template AS top_template, CAST(topn AS BIGINT) AS top_template_n,
       round(CAST(topn AS DOUBLE) / tot, 6) AS trap_score
FROM ranked WHERE rk = 1
"""


def q56_pdf_objstm_convert(spark, sf_dir):
    """C1 end-to-end on MODERN PDF bytes (round-4): 24 PDF 1.5 files —
    every non-stream object packed in a /ObjStm compressed object stream,
    located via a /Type /XRef cross-reference stream with PNG Up
    predictor — are synthesized in-memory, decoded by the stdlib
    xref-stream/ObjStm parser inside convert_files' distributed
    mapInPandas, and exploded to one row per span.  Page texts are plain
    lowercase sentences, so the classification walk
    (pdf_converter.py:105-357) deterministically yields a page-marker
    heading plus one paragraph per page — reproducible in DuckDB from
    the file index alone."""
    from eget_spark.sources.converters import convert_files
    from eget_spark.sources.pdfmini import build_pdf_bytes

    n = 24
    rows = []
    for i in range(n):
        pages = [
            f"alpha {i} {p} one.\nbeta {i} {p} two." for p in (1, 2)
        ]
        rows.append(
            (f"mem://pdf/{i:04d}.pdf", bytearray(build_pdf_bytes(pages, objstm=True)))
        )
    files = spark.createDataFrame(rows, "path string, content binary")
    return (
        convert_files(files, dedupe_content=False)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.offset").cast("int").alias("pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
        )
    )


_Q56_SQL = r"""
WITH i AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 24)),
p AS (SELECT CAST(range AS BIGINT) AS p FROM range(1, 3)),
spans AS (
  SELECT i, p, CAST((p - 1) * 2 AS INT) AS pos,
         'heading' AS kind, '## Page ' || p AS text FROM i CROSS JOIN p
  UNION ALL
  SELECT i, p, CAST((p - 1) * 2 + 1 AS INT),
         'paragraph',
         'alpha ' || i || ' ' || p || ' one. beta ' || i || ' ' || p || ' two.'
  FROM i CROSS JOIN p
)
SELECT 'mem://pdf/' || lpad(CAST(i AS VARCHAR), 4, '0') || '.pdf' AS doc_id,
       pos, kind, text
FROM spans
"""


def q57_repetition_quality(spark, sf_dir):
    """Gopher/MassiveText repetition quality rules
    (operators/quality_rules.py): per document, the duplicated-line
    fraction (count and character accounting) and the character coverage
    of the most frequent word bigram — the standard removal signals for
    template/boilerplate-dominated documents in web-scale training-data
    pipelines.  Pure relational (two explode->groupBy shuffles + doc_id
    joins), zero Python."""
    from eget_spark.operators.quality_rules import repetition_signals

    return repetition_signals(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )


_Q57_SQL = r"""
WITH lines AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
  ) WHERE trim(line) <> ''
),
per_line AS (
  SELECT doc_id, line, count(*) AS cnt, length(line) * count(*) AS chars
  FROM lines GROUP BY doc_id, line
),
lr AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_lines,
         round(CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
               / sum(cnt), 6) AS dup_line_frac,
         round(CAST(sum(CASE WHEN cnt > 1 THEN chars ELSE 0 END) AS DOUBLE)
               / sum(chars), 6) AS dup_line_char_frac
  FROM per_line GROUP BY doc_id
),
words AS (
  SELECT doc_id, length(text) AS text_len,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS ws
  FROM documents
),
bigrams AS (
  SELECT doc_id, text_len, unnest(
    CASE WHEN len(ws) >= 2
         THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
         ELSE CAST([] AS VARCHAR[]) END) AS bigram
  FROM words
),
counted AS (
  SELECT doc_id, text_len, bigram, count(*) AS n
  FROM bigrams GROUP BY doc_id, text_len, bigram
),
top AS (
  SELECT doc_id, bigram, n, text_len,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY n DESC, bigram ASC
         ) AS rk
  FROM counted
)
SELECT d.doc_id AS id,
       COALESCE(lr.n_lines, 0) AS n_lines,
       COALESCE(lr.dup_line_frac, 0.0) AS dup_line_frac,
       COALESCE(lr.dup_line_char_frac, 0.0) AS dup_line_char_frac,
       t.bigram AS top_bigram,
       CAST(COALESCE(t.n, 0) AS BIGINT) AS top_bigram_n,
       COALESCE(round(CAST(t.n * length(t.bigram) AS DOUBLE) / t.text_len, 6),
                0.0) AS top_bigram_char_frac
FROM documents d
LEFT JOIN lr ON lr.doc_id = d.doc_id
LEFT JOIN (SELECT * FROM top WHERE rk = 1) t ON t.doc_id = d.doc_id
"""


def q58_line_dedup(spark, sf_dir):
    """CCNet/RefinedWeb-style cross-corpus line dedup
    (operators/line_dedup.py): repeated non-blank lines are dropped
    corpus-wide (first occurrence in doc order, then line order, wins;
    blank lines always survive), documents reassembled in line order.
    The winner per distinct line is a map-side-combined min-struct
    aggregate — no hot-key window — so a boilerplate line occurring on
    every page collapses before the shuffle."""
    from eget_spark.operators.line_dedup import dedup_lines

    return dedup_lines(_t(spark, sf_dir, "documents"), "doc_id", "text")


_Q58_SQL = r"""
WITH lines AS (
  SELECT doc_id AS id, doc_id AS ord,
         unnest(range(len(string_split(text, chr(10))))) AS idx,
         unnest(string_split(text, chr(10))) AS line
  FROM documents
),
nonblank AS (
  SELECT *, row_number() OVER (
    PARTITION BY line ORDER BY ord, idx
  ) AS rk FROM lines WHERE trim(line) <> ''
),
kept AS (
  SELECT id, idx, line FROM nonblank WHERE rk = 1
  UNION ALL
  SELECT id, idx, line FROM lines WHERE trim(line) = ''
),
reassembled AS (
  SELECT id, string_agg(line, chr(10) ORDER BY idx) AS text,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM kept GROUP BY id
),
totals AS (
  SELECT id, CAST(count(*) AS BIGINT) AS total FROM lines GROUP BY id
)
SELECT d.doc_id AS id,
       COALESCE(r.text, '') AS text,
       COALESCE(r.n_lines, 0) AS n_lines,
       CAST(COALESCE(t.total, 0) - COALESCE(r.n_lines, 0) AS BIGINT)
         AS n_dropped
FROM documents d
LEFT JOIN reassembled r ON r.id = d.doc_id
LEFT JOIN totals t ON t.id = d.doc_id
"""


def q59_pii_scrub(spark, sf_dir):
    """PII scrubbing (operators/pii.py): C4/MassiveText-style redaction of
    emails, IPv4s, and phone numbers with per-document detection
    counters.  The synthetic corpus contains no PII, so the query first
    injects deterministic doc_id-derived PII footers (email / IP / phone
    by doc_id%4, none for %4==0) — both engines compute the identical
    injection, then scrub it.  Entirely map-side ``regexp_replace`` /
    ``regexp_count`` column expressions: at 100 TB this pass is
    zero-shuffle and pipelines with the scan that feeds it."""
    from eget_spark.operators.pii import scrub_pii

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = (
        F.when(
            did % 4 == 1,
            F.concat(
                F.col("text"),
                F.lit(" reach user"),
                did.cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.col("text"),
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                ((did * 7) % 256).cast("string"),
                F.lit(" logged"),
            ),
        )
        .when(
            did % 4 == 3,
            F.concat(
                F.col("text"),
                F.lit(" call +1-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" or mail ops"),
                did.cast("string"),
                F.lit("@corp.example.org"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return scrub_pii(
        d.select(did.alias("doc_id"), injected.alias("text")), "doc_id", "text"
    )


_Q59_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 4 = 1 THEN text || ' reach user'
                || CAST(doc_id AS VARCHAR) || '@example.com now'
           WHEN doc_id % 4 = 2 THEN text || ' from 10.'
                || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                || CAST((doc_id * 7) % 256 AS VARCHAR) || ' logged'
           WHEN doc_id % 4 = 3 THEN text || ' call +1-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' or mail ops' || CAST(doc_id AS VARCHAR)
                || '@corp.example.org'
           ELSE text
         END AS text
  FROM documents
),
stage1 AS (
  SELECT doc_id, text,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS after_email
  FROM aug
),
stage2 AS (
  SELECT *,
         regexp_replace(after_email, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b',
                        '<IP>', 'g') AS after_ip
  FROM stage1
)
SELECT doc_id AS id,
       regexp_replace(after_ip,
                      '(^|[^0-9])(\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{1,4})?)([^0-9]|$)',
                      '\1<PHONE>\4', 'g') AS text,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(after_email,
            '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(after_ip,
            '(^|[^0-9])(\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{1,4})?)([^0-9]|$)')) AS BIGINT)
         AS n_phones,
       (len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(after_email,
              '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b'))
        + len(regexp_extract_all(after_ip,
              '(^|[^0-9])(\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{1,4})?)([^0-9]|$)'))) > 0 AS has_pii
FROM stage2
"""


def q60_pdf_cid_convert(spark, sf_dir):
    """C1 on CID/Type0 composite-font PDFs (round-5): 24 files whose
    page text is written as 2-byte Identity-H codes and recovered
    through each font's embedded /ToUnicode CMap
    (sources/pdfmini.py) — the layout of non-Latin and
    professionally-typeset documents, which the reference reads via
    PyPDF2 (pdf_converter.py:105-121).  Decoded inside convert_files'
    distributed mapInPandas and exploded to one row per span; page
    texts are Greek lowercase sentences reproducible in DuckDB from the
    file index alone."""
    from eget_spark.sources.converters import convert_files
    from eget_spark.sources.pdfmini import build_pdf_type0_bytes

    n = 24
    rows = []
    for i in range(n):
        pages = [
            f"αλφα {i} {p} ένα. βήτα {i} {p} δύο." for p in (1, 2)
        ]
        rows.append(
            (
                f"mem://cid/{i:04d}.pdf",
                bytearray(build_pdf_type0_bytes(pages)),
            )
        )
    files = spark.createDataFrame(rows, "path string, content binary")
    return (
        convert_files(files, dedupe_content=False)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.offset").cast("int").alias("pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
        )
    )


_Q60_SQL = r"""
WITH i AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 24)),
p AS (SELECT CAST(range AS BIGINT) AS p FROM range(1, 3)),
spans AS (
  SELECT i, p, CAST((p - 1) * 2 AS INT) AS pos,
         'heading' AS kind, '## Page ' || p AS text FROM i CROSS JOIN p
  UNION ALL
  SELECT i, p, CAST((p - 1) * 2 + 1 AS INT),
         'paragraph',
         'αλφα ' || i || ' ' || p || ' ένα. βήτα ' || i || ' ' || p || ' δύο.'
  FROM i CROSS JOIN p
)
SELECT 'mem://cid/' || lpad(CAST(i AS VARCHAR), 4, '0') || '.pdf' AS doc_id,
       pos, kind, text
FROM spans
"""


def q61_pdf_lzw_convert(spark, sf_dir):
    """C1 on LZWDecode-filtered PDFs (round-5): 24 classic-xref files
    whose content streams are LZW-compressed (PDF spec 7.4.4,
    EarlyChange=1), decoded by the stdlib LZW implementation in
    sources/pdfmini.py inside convert_files' distributed mapInPandas.
    Same reproducible-text scheme as q56."""
    from eget_spark.sources.converters import convert_files
    from eget_spark.sources.pdfmini import build_pdf_bytes

    n = 24
    rows = []
    for i in range(n):
        pages = [
            f"delta {i} {p} one.\nepsilon {i} {p} two." for p in (1, 2)
        ]
        rows.append(
            (
                f"mem://lzw/{i:04d}.pdf",
                bytearray(build_pdf_bytes(pages, compress="lzw")),
            )
        )
    files = spark.createDataFrame(rows, "path string, content binary")
    return (
        convert_files(files, dedupe_content=False)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.offset").cast("int").alias("pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
        )
    )


_Q61_SQL = r"""
WITH i AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 24)),
p AS (SELECT CAST(range AS BIGINT) AS p FROM range(1, 3)),
spans AS (
  SELECT i, p, CAST((p - 1) * 2 AS INT) AS pos,
         'heading' AS kind, '## Page ' || p AS text FROM i CROSS JOIN p
  UNION ALL
  SELECT i, p, CAST((p - 1) * 2 + 1 AS INT),
         'paragraph',
         'delta ' || i || ' ' || p || ' one. epsilon ' || i || ' ' || p || ' two.'
  FROM i CROSS JOIN p
)
SELECT 'mem://lzw/' || lpad(CAST(i AS VARCHAR), 4, '0') || '.pdf' AS doc_id,
       pos, kind, text
FROM spans
"""


def _q62_media(spark, n: int = 24):
    """Shared fixture for q62/q63: n grayscale gradient PNGs (REAL stdlib
    codec bytes) in groups of 3 — base, +1 brightness (aHash-invariant:
    no pixel wraps, so every bit compare shifts equally), and a sparse
    +60 bump on (y+x)%9==0 pixels (flips a few bits).  All dimensions are
    multiples of 8, so nearest-neighbor sampling positions are exact
    integers ((y8*h)//8 == y8*(h//8)) and DuckDB reproduces the pixel,
    mean-bit, and Hamming arithmetic from the closed-form gradient."""
    import numpy as np

    from eget_spark.functions.png import encode_png

    rows = []
    for i in range(n):
        g, v = i // 3, i % 3
        a, b, c = 1 + g % 3, 1 + g % 4, (g * 11) % 40
        w, h = 8 * (1 + g % 4), 8 * (1 + g % 3)
        arr = (
            np.arange(h)[:, None] * a + np.arange(w)[None, :] * b + c
        ).astype(np.int64)
        if v == 1:
            arr = arr + 1
        elif v == 2:
            arr = arr + (np.add.outer(np.arange(h), np.arange(w)) % 9 == 0) * 60
        rows.append(
            (f"img{i:03d}", bytearray(encode_png((arr % 256).astype(np.uint8))))
        )
    rows.append(("bad000", bytearray(b"not a png")))  # dropped by decode
    return spark.createDataFrame(rows, "media_ref string, payload binary")


_Q62_PIXEL_SQL = r"""
WITH imgs AS (
  SELECT i, i % 3 AS v,
         1 + (i // 3) % 3 AS a, 1 + (i // 3) % 4 AS b,
         ((i // 3) * 11) % 40 AS c,
         8 * (1 + (i // 3) % 4) AS w, 8 * (1 + (i // 3) % 3) AS h
  FROM (SELECT CAST(range AS BIGINT) AS i FROM range(0, 24))
),
grid AS (SELECT CAST(range AS BIGINT) AS q FROM range(0, 8)),
pix AS (
  SELECT imgs.i, y.q * 8 + x.q AS k,
         (a * (y.q * (h // 8)) + b * (x.q * (w // 8)) + c
          + CASE WHEN v = 1 THEN 1
                 WHEN v = 2 AND ((y.q * (h // 8)) + (x.q * (w // 8))) % 9 = 0
                   THEN 60
                 ELSE 0 END) % 256 AS p
  FROM imgs CROSS JOIN grid y CROSS JOIN grid x
),
tot AS (SELECT i, sum(p) AS total FROM pix GROUP BY i),
bits AS (
  SELECT pix.i, k, CASE WHEN p * 64 > total THEN 1 ELSE 0 END AS bit
  FROM pix JOIN tot USING (i)
)
"""


def q62_image_near_dup(spark, sf_dir):
    """Perceptual image dedup, REAL pixels end-to-end: 24 stdlib-encoded
    PNGs -> one Arrow-batched mapInPandas decode+aHash pass
    (operators/image_dedup.py) -> pigeonhole band equi-join (shared with
    text SimHash, operators/dedup.hamming_pairs) -> exact bit_count(xor)
    Hamming verify.  The reference stores screenshots as opaque base64
    (services/crawler/crawler_service.py) with no image dedup; this is
    the training-pipeline extension.  DuckDB recomputes the sampled
    pixels, mean-threshold bits, and all-pairs Hamming from the same
    closed-form gradient arithmetic — the band join must therefore be
    COMPLETE (pigeonhole: hamming<=3 < 4 bands forces a matching slice)."""
    from eget_spark.operators.image_dedup import near_dup_image_pairs

    return near_dup_image_pairs(_q62_media(spark)).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


_Q62_SQL = (
    _Q62_PIXEL_SQL
    + r""",
ham AS (
  SELECT x.i AS ia, y.i AS ib,
         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
  FROM bits x JOIN bits y ON x.k = y.k AND x.i < y.i
  GROUP BY x.i, y.i
)
SELECT printf('img%03d', ia) AS id_a, printf('img%03d', ib) AS id_b,
       CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= 3
"""
)


def q63_image_dedup_groups(spark, sf_dir):
    """Image dedup GROUPS: the q62 pair set closed under connectivity
    (operators/dedup.connected_components hash-min label propagation),
    canonical = min media_ref per component, singletons map to
    themselves.  The oracle closes the same pair set with a recursive CTE
    (min reachable id), so Spark's iterative join-agg loop is checked
    against an independent fixpoint formulation."""
    from eget_spark.operators.image_dedup import dedup_images

    return dedup_images(_q62_media(spark))


_Q63_SQL = (
    _Q62_PIXEL_SQL.replace("WITH imgs", "WITH RECURSIVE imgs", 1)
    + r""",
ham AS (
  SELECT x.i AS ia, y.i AS ib,
         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
  FROM bits x JOIN bits y ON x.k = y.k AND x.i < y.i
  GROUP BY x.i, y.i
),
edges AS (
  SELECT ia AS src, ib AS dst FROM ham WHERE hamming <= 3
  UNION ALL
  SELECT ib, ia FROM ham WHERE hamming <= 3
),
reach AS (
  SELECT i AS id, i AS lbl FROM imgs
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT printf('img%03d', id) AS media_ref,
       printf('img%03d', min(lbl)) AS canonical
FROM reach GROUP BY id
"""
)


def q64_passage_dedup(spark, sf_dir):
    """ExactSubstr-style duplicated-passage removal (Lee et al. 2021,
    token n-gram form — operators/passage_dedup.py pins the semantics):
    every doc_id % 3 == 0 gets the same 9-token boilerplate suffix, so
    ~1/3 of the corpus shares heavy duplicate 5-grams (the hot-gram skew
    case) on top of whatever 5-grams the raw corpus already repeats; the
    first occurrence in doc order keeps its text, every later covered
    token is cut.  Oracle: row_number-per-gram + range-cover anti-join."""
    from eget_spark.operators.passage_dedup import dedup_passages

    boiler = " the quick brown fox jumps over the lazy dog"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.trim("text"), F.lit(boiler))
        )
        .otherwise(F.trim("text"))
        .alias("text"),
    )
    return dedup_passages(docs, n=5)


_Q64_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN trim(text) || ' the quick brown fox jumps over the lazy dog'
              ELSE trim(text) END AS text
  FROM documents
),
toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '') AS t
  FROM docs
),
tok AS (
  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS idx, t[i] AS tok
  FROM toks, UNNEST(range(1, len(t) + 1)) u(i)
),
grams AS (
  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, array_to_string(t[i:i+4], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 3)) u(i)
  WHERE len(t) >= 5
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM grams
),
dups AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
removed AS (
  SELECT DISTINCT t.doc_id, t.idx
  FROM tok t JOIN dups d
    ON t.doc_id = d.doc_id AND t.idx >= d.pos AND t.idx < d.pos + 5
),
kept AS (
  SELECT t.doc_id, t.idx, t.tok
  FROM tok t
  WHERE NOT EXISTS (
    SELECT 1 FROM removed r WHERE r.doc_id = t.doc_id AND r.idx = t.idx
  )
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text
  FROM kept GROUP BY doc_id
),
rem AS (SELECT doc_id, count(*) AS n_removed FROM removed GROUP BY doc_id)
SELECT toks.doc_id, coalesce(agg.text, '') AS text,
       CAST(len(toks.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(rem.n_removed, 0) AS BIGINT) AS n_removed
FROM toks LEFT JOIN agg USING (doc_id) LEFT JOIN rem USING (doc_id)
"""


def q65_gopher_filters(spark, sf_dir):
    """The full non-repetition Gopher/MassiveText document-filter rule set
    (Rae et al. 2021 Table A1 — word-count bounds, mean word length,
    symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
    fraction, required-stopword hits, and the combined gopher_pass
    verdict) as ONE zero-shuffle scan-side projection
    (operators/quality_rules.gopher_signals): every signal is a
    higher-order array expression, no Exchange, no Python."""
    from eget_spark.operators.quality_rules import gopher_signals

    return gopher_signals(_t(spark, sf_dir, "documents"), "doc_id", "text")


_Q65_SQL = r"""
WITH base AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS ws,
         list_filter(list_transform(string_split(text, chr(10)),
                                    l -> trim(l)),
                     l -> l <> '') AS ls,
         length(text) - length(replace(text, '#', '')) AS hash_n,
         (length(text) - length(replace(text, '...', ''))) / 3.0 AS ell3,
         length(text) - length(replace(text, '…', '')) AS ell1
  FROM documents
),
sig AS (
  SELECT id,
         len(ws) AS n_words,
         len(ls) AS n_lines,
         list_sum(list_transform(ws, w -> length(w))) AS word_chars,
         len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
         hash_n + ell3 + ell1 AS symbols,
         len(list_filter(ls, l -> starts_with(l, '- ')
                              OR starts_with(l, '* ')
                              OR starts_with(l, '•'))) AS bullet_lines,
         len(list_filter(ls, l -> ends_with(l, '...')
                              OR ends_with(l, '…'))) AS ellipsis_lines,
         len(list_intersect(
               list_distinct(list_transform(ws, w -> lower(w))),
               ['and','be','have','of','that','the','to','with'])) AS stop_hits
  FROM base
),
out AS (
  SELECT id,
         CAST(n_words AS BIGINT) AS n_words,
         CASE WHEN n_words > 0 THEN round(word_chars / n_words, 6)
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_words > 0 THEN round(alpha_words / n_words, 6)
              ELSE 0.0 END AS alpha_word_frac,
         CASE WHEN n_words > 0 THEN round(symbols / n_words, 6)
              ELSE 0.0 END AS symbol_word_ratio,
         CASE WHEN n_lines > 0 THEN round(bullet_lines / n_lines, 6)
              ELSE 0.0 END AS bullet_line_frac,
         CASE WHEN n_lines > 0 THEN round(ellipsis_lines / n_lines, 6)
              ELSE 0.0 END AS ellipsis_line_frac,
         CAST(stop_hits AS INT) AS stopword_hits
  FROM sig
)
SELECT *,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND stopword_hits >= 2) AS gopher_pass
FROM out
"""


def q66_unigram_lm_score(spark, sf_dir):
    """CCNet-style language-model quality ranking, unigram reduction
    (operators/lm_score.py): train an add-one-smoothed unigram LM on the
    corpus itself (one map-side-combined token count; the N/V scalars
    ride a 1-row broadcast), then score every document by its mean token
    log-probability — the standard perplexity-filter signal in web-scale
    training-data pipelines, as pure dataflow."""
    from eget_spark.operators.lm_score import unigram_doc_scores

    return unigram_doc_scores(_t(spark, sf_dir, "documents"), "doc_id", "text")


_Q66_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
doc_tok AS (SELECT doc_id, tok, count(*) AS k FROM toks GROUP BY doc_id, tok),
vocab AS (SELECT tok, sum(k) AS cnt FROM doc_tok GROUP BY tok),
scal AS (SELECT sum(cnt) AS n_total, count(*) AS v_size FROM vocab),
scored AS (
  SELECT d.doc_id,
         sum(d.k) AS n_tokens,
         round(sum(ln((v.cnt + 1) / (s.n_total + s.v_size)) * d.k) / sum(d.k),
               6) AS lm_score
  FROM doc_tok d JOIN vocab v USING (tok) CROSS JOIN scal s
  GROUP BY d.doc_id
)
SELECT docs.doc_id AS id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       s.lm_score
FROM documents docs LEFT JOIN scored s ON docs.doc_id = s.doc_id
"""


def q67_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) semantic dedup of the embedding corpus
    (operators/semdedup.py): intra-cell cosine pairs (>= 0.25 on the
    low-cosine synthetic embeddings) -> connected components -> per-group
    representative = the member with the LOWEST cosine to its cell
    centroid (ties -> lowest id), everything else flagged dropped.
    Oracle: recursive-CTE reachability + centroid cosine + row_number."""
    from eget_spark.operators.semdedup import semantic_dedup

    out = semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        threshold=0.25,
    )
    return out.select(
        F.col("id").cast("long"),
        F.col("component").cast("long"),
        "centroid_cosine",
        F.col("keep_id").cast("long"),
        "is_kept",
    )


_Q67_SQL = r"""
WITH RECURSIVE v AS (
  SELECT vec_id AS id, label AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
pairs AS (
  SELECT a.id AS ia, b.id AS ib
  FROM v a JOIN v b ON a.cell = b.cell AND a.id < b.id
  WHERE round(
      list_sum(list_transform(generate_series(1, len(a.v)),
                              i -> a.v[i] * b.v[i])) /
      (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
       sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) >= 0.25
),
edges AS (
  SELECT ia AS src, ib AS dst FROM pairs
  UNION ALL
  SELECT ib, ia FROM pairs
),
reach AS (
  SELECT id, id AS lbl FROM v
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
dims AS (
  SELECT cell, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM v
),
cent AS (
  SELECT cell, list(m ORDER BY dim) AS centroid
  FROM (SELECT cell, dim, avg(x) AS m FROM dims GROUP BY cell, dim)
  GROUP BY cell
),
mem AS (
  SELECT v.id, comp.component,
         round(
           list_sum(list_transform(generate_series(1, len(v.v)),
                                   i -> v.v[i] * c.centroid[i])) /
           (sqrt(list_sum(list_transform(v.v, x -> x*x))) *
            sqrt(list_sum(list_transform(c.centroid, x -> x*x)))), 6)
           AS centroid_cosine
  FROM v JOIN cent c ON c.cell = v.cell JOIN comp ON comp.id = v.id
),
reps AS (
  SELECT component, id AS keep_id FROM (
    SELECT component, id,
           row_number() OVER (PARTITION BY component
                              ORDER BY centroid_cosine, id) AS rn
    FROM mem) WHERE rn = 1
)
SELECT CAST(m.id AS BIGINT) AS id,
       CAST(m.component AS BIGINT) AS component,
       m.centroid_cosine,
       CAST(r.keep_id AS BIGINT) AS keep_id,
       m.id = r.keep_id AS is_kept
FROM mem m JOIN reps r USING (component)
"""


def q68_token_budget_sample(spark, sf_dir):
    """Token-budget corpus sampling (operators/sampling.token_budget_sample):
    training mixes are specified in tokens, not documents — keep, per
    source, the md5-of-id-ordered prefix of documents whose inclusive
    running whitespace-token sum stays within a 600-token budget.
    Deterministic across retries, partitionings, and engines."""
    from eget_spark.operators.sampling import token_budget_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != F.lit(""))
        )
        .cast("long")
        .alias("n_tokens"),
    )
    return token_budget_sample(d, "source", 600, "doc_id", "n_tokens", seed="tb1")


_Q68_SQL = r"""
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''))
           AS n_tokens
  FROM documents
),
r AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY source
           ORDER BY md5('tb1' || CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM d
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
FROM r WHERE run <= 600
"""


def q69_top_trigram_coverage(spark, sf_dir):
    """Gopher top word-TRIGRAM character coverage (the paper removes on
    the top 2/3/4-gram; q57 covers the bigram) — generalized
    operators/quality_rules.top_ngram_coverage at n=3: one
    explode->groupBy(id, gram) count + WindowGroupLimit top-1, ties
    pinned (count DESC, gram ASC)."""
    from eget_spark.operators.quality_rules import top_ngram_coverage

    return top_ngram_coverage(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)


_Q69_SQL = r"""
WITH toks AS (
  SELECT doc_id, length(text) AS text_len,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, text_len, array_to_string(t[i:i+2], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 1)) u(i)
  WHERE len(t) >= 3
),
counted AS (
  SELECT doc_id, text_len, g, count(*) AS n
  FROM grams GROUP BY doc_id, text_len, g
),
top AS (
  SELECT doc_id, g, n, text_len,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g) AS rk
  FROM counted
)
SELECT d.doc_id AS id,
       t.g AS top_ngram,
       CAST(coalesce(t.n, 0) AS BIGINT) AS top_ngram_n,
       coalesce(round(t.n * length(t.g) / t.text_len, 6), 0.0)
         AS top_ngram_char_frac
FROM documents d
LEFT JOIN (SELECT * FROM top WHERE rk = 1) t ON d.doc_id = t.doc_id
"""


def q70_dup_ngram_cover(spark, sf_dir):
    """Gopher duplicated word-n-gram CHARACTER coverage at n=3
    (operators/quality_rules.dup_ngram_char_frac): fraction of word
    characters covered by any trigram occurring more than once in the
    document, each covered word counted once (position-cover accounting,
    the same machinery class as q64's passage cover cut)."""
    from eget_spark.operators.quality_rules import dup_ngram_char_frac

    return dup_ngram_char_frac(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)


_Q70_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
         array_to_string(t[i:i+2], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 1)) u(i)
  WHERE len(t) >= 3
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, g) AS cnt
    FROM grams
  ) WHERE cnt > 1
),
cov AS (
  SELECT DISTINCT doc_id, pos + o.x AS ti FROM dup, UNNEST(range(0, 3)) o(x)
),
cchars AS (
  SELECT c.doc_id, sum(length(tk.t[CAST(c.ti AS INT) + 1])) AS cc
  FROM cov c JOIN toks tk USING (doc_id) GROUP BY c.doc_id
),
base AS (
  SELECT doc_id, len(t) AS n_words,
         coalesce(list_sum(list_transform(t, w -> length(w))), 0) AS wchars
  FROM toks
)
SELECT b.doc_id AS id, CAST(b.n_words AS BIGINT) AS n_words,
       CASE WHEN cc IS NOT NULL AND wchars > 0
            THEN round(cc / wchars, 6) ELSE 0.0 END AS dup_ngram_char_frac
FROM base b LEFT JOIN cchars USING (doc_id)
"""


def q71_curation_profile(spark, sf_dir):
    """Per-source curation profile — the corpus-health dashboard aggregate
    a curation loop runs between pipeline stages: docs, token mass, mean
    quality score, and the fraction passing a 0.5 quality floor, per
    source.  One map-side projection + one groupBy(source)."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        quality_score(F.col("text")).alias("q"),
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != F.lit(""))
        )
        .cast("long")
        .alias("toks"),
    )
    return d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.round(
            F.sum(F.when(F.col("q") >= 0.5, 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("pass_rate"),
    )


_Q71_SQL = f"""
WITH q AS ({_Q11_SQL}),
t AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''))
           AS toks
  FROM documents
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t.toks) AS BIGINT) AS n_tokens,
       round(avg(q.quality), 6) AS avg_quality,
       round(sum(CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS pass_rate
FROM t JOIN q USING (doc_id)
GROUP BY t.source
"""


# a small pinned blocklist that actually intersects the synthetic corpus
# vocabulary (C4 drops pages containing any blocklisted word; the list is
# the caller's policy — these three stand in for it deterministically)
_Q72_BLOCKLIST = ["batch", "dup", "spark"]


def q72_blocklist_flags(spark, sf_dir):
    """C4-style blocklist filtering signal: per document, the number of
    (lowercased, whitespace-split) words that appear in a pinned
    blocklist, and the drop verdict.  Zero-shuffle higher-order pass,
    same cost class as q65/q59."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != F.lit(""))
    blocked = F.size(
        F.filter(
            ws,
            lambda w: F.lower(w).isin(_Q72_BLOCKLIST),
        )
    )
    return docs.select(
        F.col("doc_id").alias("id"),
        blocked.cast("long").alias("n_blocked"),
        (blocked > 0).alias("is_blocked"),
    )


_Q72_SQL = r"""
SELECT doc_id AS id,
       CAST(len(list_filter(
              list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''),
              w -> list_contains(['batch','dup','spark'], lower(w))))
            AS BIGINT) AS n_blocked,
       len(list_filter(
              list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''),
              w -> list_contains(['batch','dup','spark'], lower(w)))) > 0
         AS is_blocked
FROM documents
"""


def q73_dedup_cluster_histogram(spark, sf_dir):
    """Dedup cluster-size histogram — the scale-health diagnostic of a
    dedup pass (a giant cluster means boilerplate is gluing the corpus
    together): connected components over the q14 MinHash-LSH pair set,
    components of size >= 2 bucketed by size."""
    from eget_spark.operators.dedup import dedup_groups

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, bands=4, k=3)
    groups = dedup_groups(docs, pairs, "doc_id")
    return (
        groups.groupBy("keep_id")
        .agg(F.count("*").alias("cluster_size"))
        .where(F.col("cluster_size") >= 2)
        .groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(F.col("cluster_size").cast("long"), "n_clusters")
    )


def _q73_sql() -> str:
    return f"""
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters
FROM (
  SELECT keep_id, count(*) AS cluster_size
  FROM ({_q37_sql()})
  GROUP BY keep_id
) WHERE cluster_size >= 2
GROUP BY cluster_size
"""


def q74_bm25_topk(spark, sf_dir):
    """BM25 keyword search (operators/search.py): top-20 documents for the
    query {spark, window, merge} — corpus stats reduce to ONE single-row
    broadcast aggregate, per-doc term frequencies are array filters (no
    explode), and top-k plans as TakeOrderedAndProject.  Zero wide
    shuffles."""
    from eget_spark.operators.search import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["spark", "window", "merge"],
        k=20,
    )


_Q74_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
base AS (
  SELECT doc_id, CAST(length(l) AS BIGINT) AS dl,
         CAST(length(list_filter(l, x -> x = 'spark'))  AS BIGINT) AS tf0,
         CAST(length(list_filter(l, x -> x = 'window')) AS BIGINT) AS tf1,
         CAST(length(list_filter(l, x -> x = 'merge'))  AS BIGINT) AS tf2
  FROM d
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl,
         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM base
),
scored AS (
  SELECT doc_id,
         round(
           (CASE WHEN tf0 > 0 THEN
             ((ln(1.0 + ((n - df0) + 0.5) / (df0 + 0.5)) * tf0) * 2.2)
               / (tf0 + 1.2 * (0.25 + (0.75 * dl) / (sumdl / n)))
            ELSE 0.0 END)
         + (CASE WHEN tf1 > 0 THEN
             ((ln(1.0 + ((n - df1) + 0.5) / (df1 + 0.5)) * tf1) * 2.2)
               / (tf1 + 1.2 * (0.25 + (0.75 * dl) / (sumdl / n)))
            ELSE 0.0 END)
         + (CASE WHEN tf2 > 0 THEN
             ((ln(1.0 + ((n - df2) + 0.5) / (df2 + 0.5)) * tf2) * 2.2)
               / (tf2 + 1.2 * (0.25 + (0.75 * dl) / (sumdl / n)))
            ELSE 0.0 END), 6) AS score
  FROM base CROSS JOIN st
)
SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
FROM (SELECT * FROM scored WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20)
"""


def q75_bigram_lm_score(spark, sf_dir):
    """Stupid-backoff bigram LM scoring (operators/lm_score.py, Brants et
    al. 2007): the LM trains on the reference subcorpus (doc_id % 3 = 0 —
    the CCNet train-on-clean/score-on-crawl setup, so backoff and the OOV
    floor are genuinely exercised), then every document scores by its mean
    bigram ln S.  Bigrams come from zip_with over the token array (no
    positional self-join)."""
    from eget_spark.operators.lm_score import bigram_doc_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_doc_scores(docs, docs.where(F.col("doc_id") % 3 == 0))


_Q75_SQL = r"""
WITH docs_l AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
tr_l AS (SELECT * FROM docs_l WHERE doc_id % 3 = 0),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(l) AS tok FROM tr_l) GROUP BY tok
),
scal AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_total FROM uni),
tr_pos AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos FROM tr_l
),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM (SELECT a.w AS w1, b.w AS w2
        FROM tr_pos a JOIN tr_pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
  GROUP BY w1, w2
),
all_pos AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos FROM docs_l
),
doc_bi AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
  FROM (SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM all_pos a JOIN all_pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
  GROUP BY doc_id, w1, w2
),
scored AS (
  SELECT d.doc_id,
         CAST(sum(d.k) AS BIGINT) AS n_bigrams,
         round(sum((CASE WHEN b.c12 > 0 THEN ln(b.c12 / u1.cnt)
                    ELSE ln((0.4 * (coalesce(u2.cnt, 0) + 0.5)) / (s.t_total + 1.0))
                    END) * d.k) / sum(d.k), 6) AS lm2_score
  FROM doc_bi d
  LEFT JOIN bi b ON b.w1 = d.w1 AND b.w2 = d.w2
  LEFT JOIN uni u1 ON u1.tok = d.w1
  LEFT JOIN uni u2 ON u2.tok = d.w2
  CROSS JOIN scal s
  GROUP BY d.doc_id
)
SELECT docs.doc_id AS id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       s.lm2_score
FROM documents docs LEFT JOIN scored s ON s.doc_id = docs.doc_id
"""


def q76_recrawl_priority(spark, sf_dir):
    """Change-rate recrawl scheduling (operators/recrawl.py, Cho &
    Garcia-Molina): the events table plays the fetch log (page = user_id,
    fetch time = ts, content fingerprint = event_type); per page, count
    fingerprint transitions over the fetch sequence, estimate changes/day,
    and rank pages fetch-first by rate.  One shuffle: the lag window and
    the per-page aggregate share the partitioning key."""
    from eget_spark.operators.recrawl import change_rates, recrawl_priority

    ev = _t(spark, sf_dir, "events")
    rates = change_rates(
        ev, id_col="user_id", ts_col="ts", fp_col="event_type",
        tiebreak_col="event_id",
    )
    return recrawl_priority(rates)


_Q76_SQL = r"""
WITH seq AS (
  SELECT user_id AS id, epoch_us(ts) AS us,
         CASE WHEN event_type <> lag(event_type) OVER
                (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
              THEN 1 ELSE 0 END AS chg
  FROM events
),
agg AS (
  SELECT id,
         CAST(count(*) AS BIGINT) AS n_fetches,
         CAST(coalesce(sum(chg), 0) AS BIGINT) AS n_changes,
         CAST(max(us) - min(us) AS BIGINT) AS span_us
  FROM seq GROUP BY id
)
SELECT id, n_fetches, n_changes, span_us,
       CASE WHEN span_us > 0
            THEN round((n_changes * 86400000000.0) / span_us, 6) END AS rate_per_day,
       CAST(row_number() OVER (
         ORDER BY CASE WHEN span_us > 0
                       THEN round((n_changes * 86400000000.0) / span_us, 6) END
                  DESC NULLS LAST, id) AS INT) AS priority
FROM agg
"""


def q77_hll_distinct(spark, sf_dir):
    """HyperLogLog cardinality sketch (operators/hll.py, Flajolet et al.
    2007) estimating distinct (visitor, action) pairs in the event log —
    the frontier-size estimator shape: groupBy(bucket) IS the distributed
    sketch (map-side combined to <= 256 rows per task), registers are
    bit-exact cross-engine (md5 hash + integer smear/bit_count rho + an
    integer-scaled harmonic sum), floats appear only in the final
    exactly-rounded multiply/divide chain."""
    from eget_spark.operators.hll import hll_estimate

    ev = _t(spark, sf_dir, "events")
    key = F.concat_ws(
        ":", F.col("user_id").cast("string"), F.col("event_type")
    )
    return hll_estimate(ev, key, p=8)


_Q77_SQL = r"""
WITH h AS (
  SELECT CAST(('0x' || substr(md5(concat(CAST(user_id AS VARCHAR), ':', event_type)), 1, 15)) AS BIGINT) AS h
  FROM events
),
rho AS (
  SELECT bucket, CAST((52 - bit_count(s32)) + 1 AS INT) AS rho FROM (
    SELECT bucket, s16 | (s16 >> 32) AS s32 FROM (
      SELECT bucket, s8 | (s8 >> 16) AS s16 FROM (
        SELECT bucket, s4 | (s4 >> 8) AS s8 FROM (
          SELECT bucket, s2 | (s2 >> 4) AS s4 FROM (
            SELECT bucket, s1 | (s1 >> 2) AS s2 FROM (
              SELECT h & 255 AS bucket, (h >> 8) | ((h >> 8) >> 1) AS s1 FROM h))))))
),
regs AS (
  SELECT r.bucket, CAST(coalesce(mx.reg, 0) AS INT) AS reg
  FROM (SELECT range AS bucket FROM range(256)) r
  LEFT JOIN (SELECT bucket, max(rho) AS reg FROM rho GROUP BY bucket) mx
    ON mx.bucket = r.bucket
),
one AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
         CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS sum_scaled
  FROM regs
)
SELECT m, v_zero, sum_scaled,
       round(CASE WHEN ((((0.7213 / (1.0 + 1.079 / 256)) * 256.0) * 256.0) * 9007199254740992.0) / sum_scaled <= 640.0
                   AND v_zero > 0
             THEN 256.0 * ln(256.0 / v_zero)
             ELSE ((((0.7213 / (1.0 + 1.079 / 256)) * 256.0) * 256.0) * 9007199254740992.0) / sum_scaled
             END, 2) AS estimate
FROM one
"""


def q78_kmeans_cells(spark, sf_dir):
    """IVF coarse-quantizer training (operators/kmeans.py): 2 Lloyd steps
    of k=4 k-means over the embeddings, ALL integer fixed point (1e-6
    scaled, floor(+0.5), md5-seeded init, ties to the lowest cell) so the
    unrolled-CTE oracle reproduces every assignment bit-for-bit — the
    pagerank_fixed recipe applied to clustering.  Centroids are
    driver-side sketch state embedded as literals: assignment is a
    zero-shuffle codegen'd projection; each Lloyd step costs one
    map-side-combined groupBy(cell, dim)."""
    from eget_spark.operators.kmeans import kmeans_fp

    return kmeans_fp(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=4, n_iter=2)


def _q78_sql() -> str:
    from eget_spark.operators.kmeans import kmeans_oracle_sql

    return kmeans_oracle_sql("embeddings", "vec_id", "embedding", k=4, n_iter=2)


def q79_warc_roundtrip(spark, sf_dir):
    """WARC 1.0 sink+source end-to-end on real bytes (sources/warc.py):
    documents become HTTP-response records, the sink packs one WARC blob
    per partition (plain for even doc_ids' files, per-record gzip members
    — the seekable Common Crawl .warc.gz layout — for odd), the reader
    parses them back in one Arrow pass.  Every record field derives from
    arithmetic on doc_id, so DuckDB reproduces the expected record table
    independently of the bytes."""
    from eget_spark.sources.warc import read_warc, write_warc_partitions

    d = F.col("doc_id")
    recs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://w"), (d % 7).cast("string"),
            F.lit(".example.org/d/"), d.cast("string"),
        ).alias("url"),
        F.encode("text", "utf-8").alias("payload"),
        F.when(d % 5 == 0, F.lit(404)).otherwise(F.lit(200)).alias("status"),
        F.when(d % 2 == 0, F.lit("text/html"))
        .otherwise(F.lit("text/plain"))
        .alias("ctype"),
        (d % 2 == 0).alias("_even"),
    )
    files_plain = write_warc_partitions(
        recs.where("_even").repartition(4, "url"),
        status_col="status", content_type_col="ctype",
    )
    files_gz = write_warc_partitions(
        recs.where(~F.col("_even")).repartition(4, "url"),
        status_col="status", content_type_col="ctype", gzip_members=True,
    )
    parsed = read_warc(
        files_plain.unionByName(files_gz).select(
            F.col("file_name").alias("path"), "content"
        )
    )
    return parsed.select(
        "url", "status", "content_type",
        F.octet_length("payload").cast("long").alias("payload_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


_Q79_SQL = r"""
SELECT 'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/d/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS INT) AS status,
       CASE WHEN doc_id % 2 = 0 THEN 'text/html' ELSE 'text/plain' END AS content_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       md5(text) AS payload_md5
FROM documents
"""


def q80_sitemap_parse(spark, sf_dir):
    """Sitemap-based crawling, the reference's roadmap item
    (readme.md:420), over sitemaps.org-0.9 XML (sources/sitemaps.py):
    per-host <urlset> documents are BUILT distributedly (groupBy host over
    string fragments) and parsed back by the stdlib-ElementTree Arrow
    pass.  Entry fields derive from doc_id arithmetic, so the oracle
    recomputes the parsed table without touching XML."""
    from eget_spark.sources.sitemaps import parse_sitemaps

    d = F.col("doc_id")
    frag = F.concat(
        F.lit("<url><loc>https://s"), (d % 5).cast("string"),
        F.lit(".example.org/p/"), d.cast("string"),
        F.lit("</loc><lastmod>2024-01-"),
        F.lpad((d % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><changefreq>"),
        F.when(d % 3 == 0, F.lit("daily"))
        .when(d % 3 == 1, F.lit("weekly"))
        .otherwise(F.lit("monthly")),
        F.lit("</changefreq><priority>0."),
        (d % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    host = F.concat(F.lit("s"), (d % 5).cast("string"), F.lit(".example.org"))
    sm = (
        _t(spark, sf_dir, "documents")
        .select(host.alias("host"), frag.alias("frag"))
        .groupBy("host")
        .agg(F.concat_ws("", F.collect_list("frag")).alias("body"))
        .select(
            F.concat(F.lit("https://"), "host", F.lit("/sitemap.xml")).alias("url"),
            F.concat(
                F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                "body",
                F.lit("</urlset>"),
            ).alias("xml"),
        )
    )
    return parse_sitemaps(sm).select(
        "sitemap_url", "loc", "lastmod", "changefreq", "priority"
    )


_Q80_SQL = r"""
SELECT 'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.example.org/sitemap.xml' AS sitemap_url,
       'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS loc,
       '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
       CASE WHEN doc_id % 3 = 0 THEN 'daily'
            WHEN doc_id % 3 = 1 THEN 'weekly'
            ELSE 'monthly' END AS changefreq,
       CAST('0.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE) AS priority
FROM documents
"""


def q81_robots_parse(spark, sf_dir):
    """Raw robots.txt body parsing (sources/robots_txt.py): per-host
    bodies are BUILT distributedly from doc_id arithmetic (User-agent
    group header, Crawl-delay, a mix of plain-prefix Disallow, wildcard
    Disallow, $-anchored Allow, comment lines, and a Sitemap directive),
    then parsed back by the RFC 9309 grouping pass into the structured
    robots table robots_allowed consumes.  The oracle recomputes the rule
    list from the same arithmetic — comments dropped, file order kept,
    prefix fast-path rules counted."""
    from eget_spark.sources.robots_txt import parse_robots

    d = F.col("doc_id")
    host = F.concat(F.lit("r"), (d % 4).cast("string"), F.lit(".example.org"))
    line = (
        F.when(d % 3 == 2, F.concat(F.lit("# note "), d.cast("string")))
        .when(d % 3 == 1, F.concat(F.lit("Allow: /a/"), d.cast("string"), F.lit("$")))
        .when(d % 6 == 0, F.concat(F.lit("Disallow: /p/"), d.cast("string")))
        .otherwise(F.concat(F.lit("Disallow: /p/"), d.cast("string"), F.lit("*")))
    )
    bodies = (
        _t(spark, sf_dir, "documents")
        .select(host.alias("host"), F.struct(d.alias("d"), line.alias("l")).alias("s"))
        .groupBy("host")
        .agg(F.array_sort(F.collect_list("s")).alias("ls"))
        .select(
            "host",
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: 0."),
                F.regexp_extract("host", r"^r(\d)", 1),
                F.lit("\n"),
                F.concat_ws("\n", F.transform("ls", lambda s: s["l"])),
                F.lit("\nSitemap: https://"), F.col("host"), F.lit("/sitemap.xml"),
            ).alias("body"),
        )
    )
    parsed = parse_robots(bodies)
    return parsed.select(
        "host", "crawl_delay",
        F.size("disallow_prefixes").cast("long").alias("n_prefixes"),
        F.size("sitemaps").cast("long").alias("n_sitemaps"),
        F.posexplode("rules").alias("rule_idx", "r"),
    ).select(
        "host",
        F.col("rule_idx").cast("int"),
        F.col("r.allow").alias("allow"),
        F.col("r.pattern").alias("pattern"),
        "crawl_delay", "n_prefixes", "n_sitemaps",
    )


_Q81_SQL = r"""
WITH r AS (
  SELECT doc_id, doc_id % 4 AS h FROM documents WHERE doc_id % 3 <> 2
),
p AS (SELECT h, CAST(count(*) FILTER (WHERE doc_id % 6 = 0) AS BIGINT) AS n_prefixes
      FROM r GROUP BY h)
SELECT 'r' || CAST(r.h AS VARCHAR) || '.example.org' AS host,
       CAST(row_number() OVER (PARTITION BY r.h ORDER BY r.doc_id) - 1 AS INT) AS rule_idx,
       (r.doc_id % 3 = 1) AS allow,
       CASE WHEN r.doc_id % 3 = 1 THEN '/a/' || CAST(r.doc_id AS VARCHAR) || '$'
            WHEN r.doc_id % 6 = 0 THEN '/p/' || CAST(r.doc_id AS VARCHAR)
            ELSE '/p/' || CAST(r.doc_id AS VARCHAR) || '*' END AS pattern,
       CAST('0.' || CAST(r.h AS VARCHAR) AS DOUBLE) AS crawl_delay,
       p.n_prefixes,
       CAST(1 AS BIGINT) AS n_sitemaps
FROM r JOIN p ON p.h = r.h
"""


def q82_snapshot_diff(spark, sf_dir):
    """Incremental-crawl delta (operators/snapshot_diff.py): snapshot A =
    docs with doc_id%10 != 9, snapshot B = docs with doc_id%10 != 0 and
    the text of every doc_id%7 == 0 page rewritten — the diff must report
    exactly the planted added/removed/changed/unchanged partition.  One
    full-outer join on the URL key over scan-side md5 fingerprints."""
    from eget_spark.operators.snapshot_diff import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://d.example.org/p/"), d.cast("string"))
    base = docs.select(url.alias("url"), "text", d.alias("doc_id"))
    old = base.where(d % 10 != 9)
    new = base.where(d % 10 != 0).withColumn(
        "text",
        F.when(d % 7 == 0, F.concat(F.lit("v2 "), F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(old, new, "url", "text").select("key", "status", "old_fp", "new_fp")


_Q82_SQL = r"""
WITH base AS (
  SELECT 'https://d.example.org/p/' || CAST(doc_id AS VARCHAR) AS key,
         doc_id, text
  FROM documents
),
o AS (SELECT key, md5(text) AS old_fp FROM base WHERE doc_id % 10 <> 9),
n AS (SELECT key, md5(CASE WHEN doc_id % 7 = 0 THEN 'v2 ' || text ELSE text END) AS new_fp
      FROM base WHERE doc_id % 10 <> 0)
SELECT coalesce(o.key, n.key) AS key,
       CASE WHEN o.old_fp IS NULL THEN 'added'
            WHEN n.new_fp IS NULL THEN 'removed'
            WHEN o.old_fp = n.new_fp THEN 'unchanged'
            ELSE 'changed' END AS status,
       o.old_fp, n.new_fp
FROM o FULL OUTER JOIN n ON o.key = n.key
"""


def q83_sequence_packing(spark, sf_dir):
    """Training-sequence packing (operators/packing.pack_sequences):
    documents fill fixed 512-token training sequences NEXT-FIT, sharded
    by doc_id%16 and taken in md5-of-id order within the shard — the
    standard pad-free batching step of an LLM data pipeline.  Packing is
    a left fold, so the Spark side is one applyInPandas per shard and the
    oracle is the equivalent recursive CTE."""
    from eget_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != F.lit(""))
        )
        .cast("long")
        .alias("n_tokens"),
    )
    return pack_sequences(
        d, "doc_id", "n_tokens", capacity=512, n_shards=16, seed="pk1"
    )


_Q83_SQL = r"""
WITH RECURSIVE d AS (
  SELECT doc_id, doc_id % 16 AS shard,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, shard, n_tokens,
         row_number() OVER (
           PARTITION BY shard
           ORDER BY md5('pk1' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM d
),
s AS (
  SELECT doc_id, shard, n_tokens, rn,
         CAST(0 AS BIGINT) AS seq_no, CAST(0 AS BIGINT) AS "offset",
         n_tokens AS fill
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.n_tokens, o.rn,
         CASE WHEN s.fill + o.n_tokens <= 512 THEN s.seq_no ELSE s.seq_no + 1 END,
         CASE WHEN s.fill + o.n_tokens <= 512 THEN s.fill ELSE CAST(0 AS BIGINT) END,
         CASE WHEN s.fill + o.n_tokens <= 512 THEN s.fill + o.n_tokens ELSE o.n_tokens END
  FROM s JOIN o ON o.shard = s.shard AND o.rn = s.rn + 1
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, seq_no, "offset" AS offset, n_tokens
FROM s
"""


def q84_hits(spark, sf_dir):
    """Kleinberg HITS hubs & authorities over the analytics link graph
    (operators/graph.hits_fixed) — the second classic frontier-priority
    signal next to q40's PageRank (hubs = link-rich index pages,
    authorities = content pages).  4 synchronous iterations of pure
    unnormalized int64 arithmetic from the all-ones hub vector, bit-exact
    vs the unrolled-CTE oracle (no normalization = no float ties)."""
    from eget_spark.operators.graph import hits_fixed

    nodes, edges = _arith_edges(spark, sf_dir)
    h = hits_fixed(nodes, edges, n_iter=4)
    return h.select(F.col("id").alias("doc_id"), "auth_fp", "hub_fp")


def _q84_sql(n_iter: int = 4) -> str:
    parts = [
        "WITH ",
        _EDGES_SQL.lstrip(),
        ",\nh0 AS (SELECT doc_id AS id, CAST(1 AS BIGINT) AS h FROM documents)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
a{i} AS (
  SELECT d.doc_id AS id, CAST(coalesce(s.v, 0) AS BIGINT) AS a
  FROM documents d LEFT JOIN (
    SELECT e.dst AS id, sum(h.h) AS v
    FROM edges e JOIN h{i-1} h ON h.id = e.src GROUP BY e.dst) s
  ON s.id = d.doc_id),
h{i} AS (
  SELECT d.doc_id AS id, CAST(coalesce(s.v, 0) AS BIGINT) AS h
  FROM documents d LEFT JOIN (
    SELECT e.src AS id, sum(a.a) AS v
    FROM edges e JOIN a{i} a ON a.id = e.dst GROUP BY e.src) s
  ON s.id = d.doc_id)"""
        )
    parts.append(
        f"\nSELECT a{n_iter}.id AS doc_id, a{n_iter}.a AS auth_fp,"
        f" h{n_iter}.h AS hub_fp FROM a{n_iter}"
        f" JOIN h{n_iter} ON h{n_iter}.id = a{n_iter}.id"
    )
    return "".join(parts)


def q85_redirect_chains(spark, sf_dir):
    """Redirect-chain resolution (operators/redirects.resolve_redirects):
    the synthetic redirect map sends doc i -> (7i+13) mod n unless
    i%3 == 0 (terminal), yielding chains and genuine cycles; pointer
    doubling (3 self-joins = 8 hops) resolves every id to its final
    target, with cycles/over-length chains reported unresolved at the
    8-hop cap.  Oracle: the equivalent bounded recursive CTE walk."""
    from eget_spark.operators.redirects import resolve_redirects

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    d = F.col("doc_id")
    universe = docs.select(d.alias("id"))
    redirects = docs.where(d % 3 != 0).select(
        d.alias("src"), ((d * 7 + 13) % n).alias("dst")
    )
    r = resolve_redirects(universe, redirects, max_hops=8)
    return r.select(
        F.col("id").alias("doc_id"), "final_id", "hops", "resolved"
    )


_Q85_SQL = r"""
WITH RECURSIVE n AS (SELECT count(*) AS c FROM documents),
walk AS (
  SELECT doc_id AS id, doc_id AS cur, CAST(0 AS BIGINT) AS hops,
         (doc_id % 3 = 0) AS done
  FROM documents
  UNION ALL
  SELECT id, (cur*7+13) % (SELECT c FROM n), hops + 1,
         (((cur*7+13) % (SELECT c FROM n)) % 3 = 0)
  FROM walk WHERE NOT done AND hops < 8
)
SELECT id AS doc_id, cur AS final_id, hops, done AS resolved
FROM walk WHERE done OR hops = 8
"""


def q86_cms_host_counts(spark, sf_dir):
    """Count-min sketch host frequencies (operators/cms.cms_counts):
    hosts are drawn with a skewed quadratic-residue map (doc_id^2 mod 31
    — non-uniform by design), the 4x64 sketch is built with the
    repo-standard 60-bit md5 hashes, and every host's exact count is
    reported next to its min-over-rows estimate.  Bit-exact vs the same
    construction in SQL (estimates AND collisions must match)."""
    from eget_spark.operators.cms import cms_counts

    d = F.col("doc_id")
    hosts = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("h"), ((d * d) % 31).cast("string"), F.lit(".example.org")
        ).alias("host")
    )
    return cms_counts(hosts, "host", depth=4, width=64)


_Q86_SQL = r"""
WITH k AS (
  SELECT 'h' || CAST((doc_id*doc_id) % 31 AS VARCHAR) || '.example.org' AS host
  FROM documents
),
e AS (
  SELECT host, j,
         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || host), 1, 15))
              AS BIGINT) % 64 AS bucket
  FROM k, UNNEST([0, 1, 2, 3]) AS u(j)
),
sk AS (SELECT j, bucket, count(*) AS c FROM e GROUP BY j, bucket),
keys AS (SELECT host, count(*) AS exact_n FROM k GROUP BY host),
kb AS (SELECT DISTINCT host, j, bucket FROM e)
SELECT keys.host, CAST(keys.exact_n AS BIGINT) AS exact_n,
       CAST(min(sk.c) AS BIGINT) AS cms_n
FROM keys
JOIN kb ON kb.host = keys.host
JOIN sk ON sk.j = kb.j AND sk.bucket = kb.bucket
GROUP BY keys.host, keys.exact_n
"""


def q87_feed_parse(spark, sf_dir):
    """RSS/Atom feed parsing (sources/feeds.py): per-host feed documents
    are BUILT distributedly (groupBy host over per-entry XML fragments —
    even hosts RSS 2.0, odd hosts Atom 1.0) and parsed back by the
    stdlib-ElementTree Arrow pass.  Entry fields derive from doc_id
    arithmetic, so the oracle recomputes the parsed table without
    touching XML."""
    from eget_spark.sources.feeds import parse_feeds

    d = F.col("doc_id")
    hid = (d % 6).cast("string")
    link = F.concat(
        F.lit("https://f"), hid, F.lit(".example.org/p/"), d.cast("string")
    )
    date = F.concat(
        F.lit("2024-02-"), F.lpad((d % 28 + 1).cast("string"), 2, "0")
    )
    rss_frag = F.concat(
        F.lit("<item><title>Post "), d.cast("string"),
        F.lit("</title><link>"), link,
        F.lit("</link><guid>urn:doc:"), d.cast("string"),
        F.lit("</guid><pubDate>"), date, F.lit("</pubDate></item>"),
    )
    atom_frag = F.concat(
        F.lit("<entry><title>Post "), d.cast("string"),
        F.lit('</title><link href="'), link,
        F.lit('"/><id>urn:doc:'), d.cast("string"),
        F.lit("</id><updated>"), date, F.lit("</updated></entry>"),
    )
    feeds = (
        _t(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit("f"), hid, F.lit(".example.org")).alias("host"),
            (d % 2 == 0).alias("_rss"),
            F.when(d % 2 == 0, rss_frag).otherwise(atom_frag).alias("frag"),
        )
        .groupBy("host", "_rss")
        .agg(F.concat_ws("", F.collect_list("frag")).alias("body"))
        .select(
            F.concat(F.lit("https://"), "host", F.lit("/feed.xml")).alias("url"),
            F.when(
                F.col("_rss"),
                F.concat(
                    F.lit('<?xml version="1.0" encoding="UTF-8"?>'
                          '<rss version="2.0"><channel><title>'),
                    F.col("host"), F.lit("</title>"), F.col("body"),
                    F.lit("</channel></rss>"),
                ),
            ).otherwise(
                F.concat(
                    F.lit('<?xml version="1.0" encoding="UTF-8"?>'
                          '<feed xmlns="http://www.w3.org/2005/Atom"><title>'),
                    F.col("host"), F.lit("</title>"), F.col("body"),
                    F.lit("</feed>"),
                )
            ).alias("xml"),
        )
    )
    return parse_feeds(feeds).select(
        "feed_url", "kind", "title", "link", "entry_id", "updated"
    )


_Q87_SQL = r"""
SELECT 'https://f' || CAST(doc_id % 6 AS VARCHAR) || '.example.org/feed.xml' AS feed_url,
       CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
       'Post ' || CAST(doc_id AS VARCHAR) AS title,
       'https://f' || CAST(doc_id % 6 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS link,
       'urn:doc:' || CAST(doc_id AS VARCHAR) AS entry_id,
       '2024-02-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS updated
FROM documents
"""


def q88_content_sniff(spark, sf_dir):
    """Magic-byte content-type sniffing (functions/sniff.py): every doc's
    text is wrapped in one of seven containers (PNG/JPEG/GIF/PDF/gzip/
    zip magic prefixes, or an HTML doctype) chosen by doc_id%7, and the
    zero-shuffle JVM sniffer must recover exactly the planted type.  The
    oracle knows the plant, so any sniff miss is a value mismatch."""
    from eget_spark.functions.sniff import sniff_content_type

    d = F.col("doc_id")
    k = d % 7
    prefix = (
        F.when(k == 0, F.unhex(F.lit("89504E470D0A1A0A")))
        .when(k == 1, F.unhex(F.lit("FFD8FFE0")))
        .when(k == 2, F.encode(F.lit("GIF89a"), "utf-8"))
        .when(k == 3, F.encode(F.lit("%PDF-1.4"), "utf-8"))
        .when(k == 4, F.unhex(F.lit("1F8B08")))
        .when(k == 5, F.unhex(F.lit("504B0304")))
        .otherwise(F.encode(F.lit("<!DOCTYPE html>"), "utf-8"))
    )
    payloads = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(prefix, F.encode("text", "utf-8")).alias("payload"),
    )
    return payloads.select(
        "doc_id",
        sniff_content_type(F.col("payload")).alias("content_type"),
        F.octet_length("payload").cast("long").alias("payload_bytes"),
    )


_Q88_SQL = r"""
SELECT doc_id,
       CASE doc_id % 7
         WHEN 0 THEN 'image/png'
         WHEN 1 THEN 'image/jpeg'
         WHEN 2 THEN 'image/gif'
         WHEN 3 THEN 'application/pdf'
         WHEN 4 THEN 'application/gzip'
         WHEN 5 THEN 'application/zip'
         ELSE 'text/html'
       END AS content_type,
       CAST(octet_length(encode(text))
            + CASE doc_id % 7 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 6
                              WHEN 3 THEN 8 WHEN 4 THEN 3 WHEN 5 THEN 4
                              ELSE 15 END AS BIGINT) AS payload_bytes
FROM documents
"""


def _q89_audio(spark, n: int = 12):
    """Shared fixture for q89: n REAL WAV payloads (stdlib ``wave``
    writer) — clip g is 16-bit PCM, 1 + g%2 channels, rate 8000 +
    1000*(g%3) Hz, 200 + 25*g frames, flat sample
    s(j) = ((j*(g+3)) % 2048) - 1024 (an integer sawtooth), so DuckDB
    reproduces every sample, the per-channel sign-flip count, and the
    floor-division duration from the closed form."""
    import numpy as np

    from eget_spark.functions.audio import encode_wav

    rows = []
    for g in range(n):
        ch = 1 + g % 2
        j = np.arange((200 + 25 * g) * ch, dtype=np.int64)
        s = (j * (g + 3)) % 2048 - 1024
        rows.append(
            (
                f"wav{g:03d}",
                bytearray(encode_wav(s, 8000 + 1000 * (g % 3), ch)),
            )
        )
    rows.append(("bad000", bytearray(b"RIFF but not really")))
    return spark.createDataFrame(rows, "media_ref string, payload binary")


def q89_audio_features(spark, sf_dir):
    """Audio decode + signal features, REAL WAV bytes end-to-end
    (functions/audio.py): stdlib ``wave`` decode in one Arrow
    mapInPandas pass, pinned integer contract (flat-sample sum_abs /
    peak_abs, per-channel strict sign-flip zero crossings, floor
    duration_us).  The reference stores media as opaque base64 blobs
    (services/crawler/crawler_service.py) with no audio path; this is
    the multimodal training-pipeline extension.  The undecodable
    payload row must be dropped, everything else matched bit-exactly
    from the oracle's sample arithmetic."""
    from eget_spark.functions.audio import audio_features

    return audio_features(_q89_audio(spark))


_Q89_SQL = r"""
WITH clips AS (
  SELECT i, 1 + i % 2 AS ch, 8000 + 1000 * (i % 3) AS rate,
         200 + 25 * i AS nf
  FROM (SELECT CAST(range AS BIGINT) AS i FROM range(0, 12))
),
idx AS (SELECT CAST(range AS BIGINT) AS j FROM range(0, 1000)),
samp AS (
  SELECT c.i, j, ch, ((j * (c.i + 3)) % 2048) - 1024 AS s
  FROM clips c JOIN idx ON j < c.nf * c.ch
),
zc AS (
  SELECT a.i, count(*) AS z
  FROM samp a JOIN samp b ON a.i = b.i AND b.j = a.j + a.ch
  WHERE a.s * b.s < 0
  GROUP BY a.i
),
agg AS (
  SELECT i, sum(abs(s)) AS sum_abs, max(abs(s)) AS peak_abs
  FROM samp GROUP BY i
)
SELECT printf('wav%03d', c.i) AS media_ref,
       CAST(c.rate AS INTEGER) AS sample_rate,
       CAST(c.ch AS INTEGER) AS n_channels,
       CAST(c.nf AS BIGINT) AS n_frames,
       CAST(c.nf * 1000000 // c.rate AS BIGINT) AS duration_us,
       CAST(a.sum_abs AS BIGINT) AS sum_abs,
       CAST(a.peak_abs AS BIGINT) AS peak_abs,
       CAST(COALESCE(z.z, 0) AS BIGINT) AS zero_crossings
FROM clips c JOIN agg a USING (i) LEFT JOIN zc z ON z.i = c.i
"""


def _q90_video(spark, n: int = 10):
    """Shared fixture for q90: n EVC1 payloads (functions/video.py) of
    REAL stdlib-PNG frames — video g has 4 + 2*(g%3) frames of
    8*(1+g%2) x 8 gradient pixels p(y,x) = (y*a + x*b + c_f) % 256 with
    a = 1+g%3, b = 1+g%4, c_f = (g*7 + f*13) % 40, at fps_x1000 =
    6000 + 1000*(g%4) — every pixel and the floor-division duration
    are closed-form for the oracle."""
    import numpy as np

    from eget_spark.functions.video import encode_video

    rows = []
    for g in range(n):
        w, a, b = 8 * (1 + g % 2), 1 + g % 3, 1 + g % 4
        frames = [
            (
                (
                    np.arange(8)[:, None] * a
                    + np.arange(w)[None, :] * b
                    + (g * 7 + f * 13) % 40
                )
                % 256
            ).astype(np.uint8)
            for f in range(4 + 2 * (g % 3))
        ]
        rows.append(
            (
                f"vid{g:03d}",
                bytearray(encode_video(frames, 6000 + 1000 * (g % 4))),
            )
        )
    rows.append(("bad000", bytearray(b"not a video")))
    return spark.createDataFrame(rows, "media_ref string, payload binary")


def q90_video_frame_sample(spark, sf_dir):
    """Video frame sampling + container probe, REAL bytes end-to-end
    (functions/video.py): EVC1 header probe (frame bytes untouched) +
    every-2nd-frame sampling where ONLY kept frames are PNG-decoded
    (dropped frames length-skipped) — the 100-TB shape for multimodal
    frame extraction.  The reference has no video path
    (services/crawler/crawler_service.py stores opaque blobs); this is
    the training-pipeline extension.  One row per sampled frame with
    real decoded pixel totals joined to the probe metadata; the oracle
    recomputes both from the gradient closed form."""
    from eget_spark.functions.video import sample_video_frames, video_probe

    vids = _q90_video(spark)
    return sample_video_frames(vids, every=2).join(
        F.broadcast(video_probe(vids)), "media_ref"
    )


_Q90_SQL = r"""
WITH vids AS (
  SELECT i, 4 + 2 * (i % 3) AS nf, 8 * (1 + i % 2) AS w,
         1 + i % 3 AS a, 1 + i % 4 AS b, 6000 + 1000 * (i % 4) AS fps
  FROM (SELECT CAST(range AS BIGINT) AS i FROM range(0, 10))
),
fr AS (
  SELECT v.*, f.q AS fidx, (v.i * 7 + f.q * 13) % 40 AS cf
  FROM vids v
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 8)) f
    ON f.q < v.nf
  WHERE f.q % 2 = 0
),
pix AS (
  SELECT fr.i, fidx, w, nf, fps,
         sum((y.q * a + x.q * b + cf) % 256) AS pt
  FROM fr
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 8)) y ON TRUE
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 16)) x
    ON x.q < fr.w
  GROUP BY fr.i, fidx, w, nf, fps
)
SELECT printf('vid%03d', i) AS media_ref,
       CAST(fidx AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CAST(pt AS BIGINT) AS pix_total,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(fps AS INTEGER) AS fps_x1000,
       CAST(nf * 1000000000 // fps AS BIGINT) AS duration_us
FROM pix
"""


def q91_containment_pairs(spark, sf_dir):
    """Asymmetric shingle-containment dedup
    (operators/dedup.containment_pairs) — Broder's second measure:
    |S(A)∩S(B)| / |S(A)|, the one that catches a short doc copied
    verbatim into a long aggregator page where Jaccard resemblance
    (q15) stays tiny.  Same inverted shingle index shape as q15; both
    directed ratios emitted, filter passes if either clears the
    threshold.  Training-pipeline extension (the reference has no
    dedup — services/crawler/crawler_service.py stores raw pages)."""
    from eget_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, "doc_id", "text", threshold=0.1, k=3)


_Q91_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, g FROM (
    SELECT doc_id, unnest({_SHINGLE_SQL}) AS g FROM documents)
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i / CAST(na.n AS DOUBLE), 6) AS containment_a,
       round(i / CAST(nb.n AS DOUBLE), 6) AS containment_b
FROM inter
JOIN sizes na ON na.id = id_a
JOIN sizes nb ON nb.id = id_b
WHERE round(i / CAST(na.n AS DOUBLE), 6) >= 0.1
   OR round(i / CAST(nb.n AS DOUBLE), 6) >= 0.1
"""


def q92_canonical_collapse(spark, sf_dir):
    """rel=canonical URL collapse (operators/canonical.py): cluster key
    = declared canonical target (normalized) else own normalized URL;
    representative = the self-canonical target when fetched, else min
    URL.  The reference extracts canonical_url into metadata
    (services/scraper/scraper.py:400-403) but never collapses on it —
    this is the metadata-only dedup tier that runs before any content
    hashing.  Fixture: every 5-doc block shares a canonical target
    (declarers point at the block base, one with a #fragment the
    normalizer must strip; %5==4 docs declare nothing), query-string
    noise on every URL exercises normalization."""
    from eget_spark.operators.canonical import canonical_collapse

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    b = d - d % 5
    host = F.concat(
        F.lit("https://h"), (b % 16).cast("string"), F.lit(".example.org/p/")
    )
    url = F.concat(host, d.cast("string"), F.lit("?ref="), d.cast("string"))
    base_url = F.concat(host, b.cast("string"))
    canon = (
        F.when(d % 5 == 1, base_url)
        .when(d % 5 == 2, F.concat(base_url, F.lit("#top")))
        .when(d % 5 == 3, base_url)
    )
    pages = docs.select(url.alias("url"), canon.alias("canonical_url"))
    return canonical_collapse(pages)


_Q92_SQL = r"""
WITH mem AS (
  SELECT doc_id AS d, doc_id - doc_id % 5 AS b,
         CASE WHEN doc_id % 5 IN (1, 2, 3) THEN doc_id - doc_id % 5
              ELSE doc_id END AS kd
  FROM documents
),
urls AS (
  SELECT d, kd,
         'https://h' || CAST(b % 16 AS VARCHAR) || '.example.org/p/'
           || CAST(d AS VARCHAR) || '?ref=' || CAST(d AS VARCHAR) AS url,
         'https://h' || CAST(b % 16 AS VARCHAR) || '.example.org/p/'
           || CAST(kd AS VARCHAR) AS canonical_key
  FROM mem
),
reps AS (
  SELECT kd, count(*) AS n,
         'https://h' || CAST((kd - kd % 5) % 16 AS VARCHAR)
           || '.example.org/p/' || CAST(kd AS VARCHAR)
           || '?ref=' || CAST(kd AS VARCHAR) AS rep
  FROM urls GROUP BY kd
)
SELECT u.url, u.canonical_key, r.rep AS representative,
       u.url = r.rep AS is_representative,
       CAST(r.n AS BIGINT) AS cluster_size
FROM urls u JOIN reps r USING (kd)
"""


def q93_pq_codes(spark, sf_dir):
    """Product-quantization codes (operators/pq.py — Jegou et al. 2011,
    the FAISS IVF-PQ compression tier): 64-dim embeddings split into 4
    subspaces of 16 dims, an independent k=4 fixed-point Lloyd codebook
    per subspace (same pinned recipe as q78), final assignment ONE
    zero-shuffle literal-codebook projection emitting all 4 codes +
    total integer distortion.  The oracle unrolls all four Lloyd chains
    and must match every code bit-for-bit."""
    from eget_spark.operators.pq import pq_codes

    return pq_codes(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        m=4, k=4, n_iter=2,
    )


def _q93_sql() -> str:
    from eget_spark.operators.pq import pq_oracle_sql

    return pq_oracle_sql(
        "embeddings", "vec_id", "embedding", dim=64, m=4, k=4, n_iter=2
    )


def q94_phrase_search(spark, sf_dir):
    """Exact phrase matching (operators/search.phrase_counts): occurrence
    count of the consecutive-token phrase "table part" per document —
    the positional-postings primitive (Manning et al. IIR §2.4) done the
    zero-shuffle way: the phrase rides inside the expression tree as a
    position-sequence filter over the token array; no positional index,
    no explode, no join.  Overlapping occurrences count."""
    from eget_spark.operators.search import phrase_counts

    docs = _t(spark, sf_dir, "documents")
    return phrase_counts(docs, "doc_id", "text", "table part")


_Q94_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
)
SELECT id, n_hits FROM (
  SELECT doc_id AS id,
         CAST(len(list_filter(generate_series(1, greatest(len(l) - 1, 1)),
                              i -> l[i] = 'table' AND l[i+1] = 'part'))
              AS BIGINT) AS n_hits
  FROM d
) WHERE n_hits > 0
"""


def q95_soft404_flags(spark, sf_dir):
    """Soft-404 detection (operators/soft404.py — Bar-Yossef et al.
    2004): docs %13==0 get a planted short error page (banner + 100-char
    stub, MUST flag), %13==1 get the banner buried in a full-length page
    (banner true, verdict false — the length gate), the rest pass
    through.  Pure zero-shuffle column algebra; the oracle replants and
    recomputes every signal."""
    from eget_spark.operators.soft404 import soft404_flags

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    text = (
        F.when(
            d % 13 == 0,
            F.concat(
                F.lit("404 Error: Page Not Found. "),
                F.substring("text", 1, 100),
            ),
        )
        .when(
            d % 13 == 1,
            F.concat(
                F.lit("This page does not exist... just kidding: "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
    )
    pages = docs.select(d.alias("doc_id"), text.alias("text"))
    return soft404_flags(pages, "doc_id", "text", min_chars=200)


_Q95_SQL = r"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0
                THEN '404 Error: Page Not Found. ' || substr(text, 1, 100)
              WHEN doc_id % 13 = 1
                THEN 'This page does not exist... just kidding: ' || text
              ELSE text END AS t
  FROM documents
)
SELECT doc_id AS id, CAST(length(t) AS BIGINT) AS n_chars,
       regexp_matches(lower(t), '(page not found|404 error|error 404|does not exist|no longer available|nothing (was )?found)') AS has_404_pattern,
       length(t) < 200 AS too_short,
       regexp_matches(lower(t), '(page not found|404 error|error 404|does not exist|no longer available|nothing (was )?found)')
         AND length(t) < 400 AS is_soft404
FROM p
"""


def q96_charset_sniff(spark, sf_dir):
    """Charset sniffing (functions/sniff.sniff_charset — WHATWG
    encoding-sniff spirit; the reference only scrapes <meta charset>
    AFTER decode, scraper.py:420-423): BOM tier, <meta charset>,
    http-equiv content charset, XML declaration, pinned utf-8 default.
    Docs are wrapped per doc_id%7 in one of six declaration styles (or
    none); the sniffer must recover the plant.  Zero-shuffle column
    algebra over the binary payload."""
    from eget_spark.functions.sniff import sniff_charset

    d = F.col("doc_id")
    k = d % 7
    body = F.encode("text", "utf-8")
    payload = (
        F.when(k == 0, F.concat(F.unhex(F.lit("EFBBBF")), body))
        .when(k == 1, F.concat(F.unhex(F.lit("FFFE")), body))
        .when(k == 2, F.concat(F.unhex(F.lit("FEFF")), body))
        .when(
            k == 3,
            F.concat(
                F.encode(
                    F.lit('<html><head><meta charset="windows-1252"></head>'),
                    "utf-8",
                ),
                body,
            ),
        )
        .when(
            k == 4,
            F.concat(
                F.encode(
                    F.lit(
                        '<html><head><meta http-equiv="Content-Type" '
                        'content="text/html; charset=ISO-8859-2"></head>'
                    ),
                    "utf-8",
                ),
                body,
            ),
        )
        .when(
            k == 5,
            F.concat(
                F.encode(
                    F.lit('<?xml version="1.0" encoding="Shift_JIS"?><root>'),
                    "utf-8",
                ),
                body,
            ),
        )
        .otherwise(body)
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", sniff_charset(payload).alias("charset")
    )


_Q96_SQL = r"""
SELECT doc_id,
       CASE doc_id % 7
         WHEN 0 THEN 'utf-8'
         WHEN 1 THEN 'utf-16le'
         WHEN 2 THEN 'utf-16be'
         WHEN 3 THEN 'windows-1252'
         WHEN 4 THEN 'iso-8859-2'
         WHEN 5 THEN 'shift_jis'
         ELSE 'utf-8'
       END AS charset
FROM documents
"""


def q97_revalidate(spark, sf_dir):
    """HTTP conditional-revalidation classification
    (operators/recrawl.revalidate — RFC 9110 §13.1 as dataflow): ETag
    strong-compare first, Last-Modified when either side lacks one,
    refetch when no validator pair, gone when the live side dropped the
    URL.  Fixture plants all five outcomes arithmetically; ONE url
    equi-join + codegen CASE, no Python."""
    from eget_spark.operators.recrawl import revalidate

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://c.example.org/p/"), d.cast("string"))
    cached = docs.select(
        url.alias("url"),
        F.when(d % 4 <= 1, F.concat(F.lit("e"), (d % 10).cast("string")))
        .alias("etag"),
        F.when((d % 4 == 0) | (d % 4 == 2), d * 1000000)
        .cast("long")
        .alias("last_modified"),
    )
    live = docs.where(d % 9 != 8).select(
        url.alias("url"),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("e"),
                ((d + F.when(d % 8 == 0, 1).otherwise(0)) % 10).cast("string"),
            ),
        ).alias("etag"),
        F.when(
            (d % 4 == 0) | (d % 4 == 2),
            (d + F.when(d % 3 == 0, 0).otherwise(5)) * 1000000,
        )
        .cast("long")
        .alias("last_modified"),
    )
    return revalidate(cached, live)


_Q97_SQL = r"""
SELECT 'https://c.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
       CASE
         WHEN doc_id % 9 = 8 THEN 'gone'
         WHEN doc_id % 4 = 0 THEN
           CASE WHEN doc_id % 8 = 0 THEN 'modified' ELSE 'not_modified' END
         WHEN doc_id % 4 = 2 THEN
           CASE WHEN doc_id % 3 = 0 THEN 'not_modified' ELSE 'modified' END
         ELSE 'refetch'
       END AS action
FROM documents
"""


def q98_snapshot_retention(spark, sf_dir):
    """Keep-last-k snapshot retention (operators/snapshot_diff.
    retain_last_k — Iceberg expire_snapshots semantics over the row
    history): every URL keeps its newest 2 versions.  Fixture: doc d
    has 1 + d%4 versions at fetch_time (d*10+v)*1e6.  One hash exchange
    on the URL key feeding a per-key window row_number."""
    from eget_spark.operators.snapshot_diff import retain_last_k

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    snaps = docs.select(
        F.concat(F.lit("https://s.example.org/p/"), d.cast("string")).alias(
            "url"
        ),
        F.explode(F.sequence(F.lit(0), (d % 4).cast("int"))).alias("v"),
        d.alias("_d"),
    ).select(
        "url", ((F.col("_d") * 10 + F.col("v")) * 1000000).alias("fetch_time")
    )
    return retain_last_k(snaps, k=2)


_Q98_SQL = r"""
WITH snaps AS (
  SELECT 'https://s.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
         (doc_id * 10 + v.q) * 1000000 AS fetch_time
  FROM documents
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 4)) v
    ON v.q <= doc_id % 4
)
SELECT url, fetch_time,
       row_number() OVER (
         PARTITION BY url
         ORDER BY fetch_time DESC,
                  md5(url || '|' || CAST(fetch_time AS VARCHAR))
       ) <= 2 AS keep
FROM snaps
"""


def q99_normalized_dedup(spark, sf_dir):
    """Normalization-keyed exact dedup (functions/text.dedup_normalize —
    CCNet/Wenzek et al. 2020 normalize-before-hash): lowercase, pinned
    88-char accent fold, punctuation to space, whitespace collapse, THEN
    md5-group.  Fixture: every doc gets an evil twin (upper-cased,
    AEIOU->accented, '!!!' appended) that must land in the same group.
    One map-side-combined groupBy(key) + key equi-join back."""
    from eget_spark.functions.text import dedup_normalize

    # round-6 (guide §1.2/§2.4): the accent-fold + regex normalization is
    # the dominant cost; hash-cluster the docs first so it runs at full
    # parallelism (the single small parquet row group scans as 1-2
    # tasks), checkpoint the (id, key) table so normalization runs ONCE
    # instead of once per self-join side, and broadcast the group
    # aggregate back so the probe side never shuffles
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        F.col("doc_id")
    )
    d = F.col("doc_id")
    pairs = docs.select((d * 2).alias("id"), F.col("text")).unionAll(
        docs.select(
            (d * 2 + 1).alias("id"),
            F.concat(
                F.translate(F.upper("text"), "AEIOU", "ÁÉÍÓÚ"), F.lit("!!!")
            ).alias("text"),
        )
    )
    norm = pairs.select(
        "id", F.md5(dedup_normalize(F.col("text"))).alias("k")
    ).localCheckpoint(eager=True)
    groups = norm.groupBy("k").agg(
        F.min("id").alias("canonical"),
        F.count("*").cast("long").alias("group_size"),
    )
    return norm.join(F.broadcast(groups), "k").select(
        "id", "canonical", "group_size"
    )


def _q99_sql() -> str:
    from eget_spark.functions.text import ACCENT_DST, ACCENT_SRC

    fold = (
        "translate(replace(replace(replace(lower(text), 'æ', 'ae'), "
        f"'œ', 'oe'), 'ß', 'ss'), '{ACCENT_SRC}', '{ACCENT_DST}')"
    )
    return f"""
WITH pairs AS (
  SELECT doc_id * 2 AS id, text FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1,
         translate(upper(text), 'AEIOU', 'ÁÉÍÓÚ') || '!!!'
  FROM documents
),
norm AS (
  SELECT id,
         md5(trim(regexp_replace({fold}, '[^a-z0-9]+', ' ', 'g'))) AS k
  FROM pairs
),
g AS (SELECT k, min(id) AS canonical, count(*) AS n FROM norm GROUP BY k)
SELECT norm.id, g.canonical, CAST(g.n AS BIGINT) AS group_size
FROM norm JOIN g USING (k)
"""


def q100_registrable_domain(spark, sf_dir):
    """eTLD+1 extraction under the pinned PSL-lite table
    (functions/urls.registrable_domain) — the politeness/budget grouping
    key real crawlers use instead of raw hostnames (subdomain spray
    dodges per-host budgets; it can't dodge per-registrant ones).  Six
    planted hostname shapes per doc_id%6 cover 2-label public suffixes,
    deep subdomains, plain TLDs, and dotless hosts.  Pure regexp column
    algebra, zero shuffle."""
    from eget_spark.functions.urls import registrable_domain

    d = F.col("doc_id")
    n = (d % 20).cast("string")
    host = (
        F.when(d % 6 == 0, F.concat(F.lit("www.ex"), n, F.lit(".co.uk")))
        .when(d % 6 == 1, F.concat(F.lit("blog.sub.ex"), n, F.lit(".com.au")))
        .when(d % 6 == 2, F.concat(F.lit("ex"), n, F.lit(".org")))
        .when(d % 6 == 3, F.concat(F.lit("a.b.c.ex"), n, F.lit(".co.jp")))
        .when(d % 6 == 4, F.lit("localhost"))
        .otherwise(F.concat(F.lit("ex"), n, F.lit(".io")))
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        host.alias("host"),
        registrable_domain(host).alias("registrable"),
    )


_Q100_SQL = r"""
SELECT doc_id,
       CASE doc_id % 6
         WHEN 0 THEN 'www.ex' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk'
         WHEN 1 THEN 'blog.sub.ex' || CAST(doc_id % 20 AS VARCHAR) || '.com.au'
         WHEN 2 THEN 'ex' || CAST(doc_id % 20 AS VARCHAR) || '.org'
         WHEN 3 THEN 'a.b.c.ex' || CAST(doc_id % 20 AS VARCHAR) || '.co.jp'
         WHEN 4 THEN 'localhost'
         ELSE 'ex' || CAST(doc_id % 20 AS VARCHAR) || '.io'
       END AS host,
       CASE doc_id % 6
         WHEN 0 THEN 'ex' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk'
         WHEN 1 THEN 'ex' || CAST(doc_id % 20 AS VARCHAR) || '.com.au'
         WHEN 2 THEN 'ex' || CAST(doc_id % 20 AS VARCHAR) || '.org'
         WHEN 3 THEN 'ex' || CAST(doc_id % 20 AS VARCHAR) || '.co.jp'
         WHEN 4 THEN 'localhost'
         ELSE 'ex' || CAST(doc_id % 20 AS VARCHAR) || '.io'
       END AS registrable
FROM documents
"""


def q101_adaptive_delays(spark, sf_dir):
    """Latency-adaptive politeness (operators/politeness.adaptive_delays
    — the Heritrix delay-factor convention): per-host crawl delay =
    clamp(floor(2 * avg observed latency), 100, 10000) ms from a
    synthetic fetch log (host doc_id%30, latency 50 + (doc_id*37)%400).
    ONE map-side-combined groupBy(host); the avg is a single
    exactly-rounded double division of int64 sums, cross-engine
    bit-exact."""
    from eget_spark.operators.politeness import adaptive_delays

    d = F.col("doc_id")
    log = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (d % 30).cast("string")).alias("host"),
        (50 + (d * 37) % 400).alias("latency_ms"),
    )
    return adaptive_delays(log)


_Q101_SQL = r"""
WITH log AS (
  SELECT 'h' || CAST(doc_id % 30 AS VARCHAR) AS host,
         50 + (doc_id * 37) % 400 AS latency_ms
  FROM documents
),
agg AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
         CAST(sum(latency_ms) AS BIGINT) AS s
  FROM log GROUP BY host
)
SELECT host, n_fetches,
       CAST(least(greatest(CAST(floor(2 * (CAST(s AS DOUBLE) / n_fetches)) AS BIGINT),
                           100), 10000) AS BIGINT) AS delay_ms
FROM agg
"""


def _q102_media(spark, n: int = 18):
    """Shared fixture for q102: n REAL palette PNGs (functions/png.
    encode_palette_png) — image g is 8*(1+g%2) x 8 at bit depth
    {2,4,8}[g%3], palette entry p = ((p*37+5)%256, (p*53+11)%256,
    (p*71+17)%256), index(y,x) = (y*(1+g%3) + x*(1+g%4) + g) % 4, so
    DuckDB reproduces every RGB byte from the closed form.  One image
    per depth also carries tRNS alpha (g%6==5: alpha p = 64*p) to pin
    the RGBA path."""
    import numpy as np

    from eget_spark.functions.png import encode_palette_png

    pal = np.array(
        [[(p * 37 + 5) % 256, (p * 53 + 11) % 256, (p * 71 + 17) % 256]
         for p in range(4)],
        dtype=np.uint8,
    )
    rows = []
    for g in range(n):
        w, a, b = 8 * (1 + g % 2), 1 + g % 3, 1 + g % 4
        idx = (
            (np.arange(8)[:, None] * a + np.arange(w)[None, :] * b + g) % 4
        ).astype(np.uint8)
        depth = (2, 4, 8)[g % 3]
        trns = bytes([(64 * p) % 256 for p in range(4)]) if g % 6 == 5 else None
        rows.append(
            (f"pal{g:03d}", bytearray(encode_palette_png(idx, pal, depth, trns)))
        )
    rows.append(("bad000", bytearray(b"not a png")))
    return spark.createDataFrame(rows, "media_ref string, payload binary")


def q102_palette_png_decode(spark, sf_dir):
    """Palette/sub-byte PNG decode, REAL bytes end-to-end
    (functions/png.py color type 3 + PLTE + tRNS at depths 2/4/8;
    functions/media.image_pixel_stats): web images are overwhelmingly
    palette PNGs, and the reference's PIL path reads them natively
    (file_utils.py) — this closes that decode gap stdlib-only.  The
    oracle recomputes width/height/channels and the full RGB(A) byte
    sum from the palette closed form; any bit-unpack, PLTE-lookup, or
    alpha-expansion error is a value mismatch."""
    from eget_spark.functions.media import image_pixel_stats

    return image_pixel_stats(_q102_media(spark))


_Q102_SQL = r"""
WITH imgs AS (
  SELECT i, 8 * (1 + i % 2) AS w, 1 + i % 3 AS a, 1 + i % 4 AS b,
         CASE WHEN i % 6 = 5 THEN 4 ELSE 3 END AS ch
  FROM (SELECT CAST(range AS BIGINT) AS i FROM range(0, 18))
),
pix AS (
  SELECT imgs.i, w, ch,
         ((y.q * a + x.q * b + imgs.i) % 4) AS p
  FROM imgs
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 8)) y ON TRUE
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 16)) x ON x.q < w
),
sums AS (
  SELECT i, w, ch,
         sum((p * 37 + 5) % 256 + (p * 53 + 11) % 256 + (p * 71 + 17) % 256
             + CASE WHEN ch = 4 THEN (64 * p) % 256 ELSE 0 END) AS pt
  FROM pix GROUP BY i, w, ch
)
SELECT printf('pal%03d', i) AS media_ref,
       CAST(w AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CAST(ch AS INTEGER) AS channels,
       CAST(pt AS BIGINT) AS pix_total
FROM sums
"""


def q103_asof_robots(spark, sf_dir):
    """AS-OF join (operators/asof.py — kdb aj / merge_asof semantics,
    union-window form): every fetch event gets the robots-policy version
    in force at its fetch time (largest valid_from <= fetch_time per
    host; fetches before the first version get NULL).  ONE shuffle — no
    range cross join, no per-key Python.  Fixture: 12 hosts x 3 policy
    versions at valid_from {50,300,550}, fetch times (doc_id*7)%1000,
    so the governing version is closed-form for the oracle."""
    from eget_spark.operators.asof import asof_join

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 12).cast("string"))
    fetches = docs.select(
        host.alias("host"),
        d.alias("event_id"),
        ((d * 7) % 1000).alias("fetch_time"),
    )
    versions = docs.where(d < 36).select(
        host.alias("host"),
        (F.floor(d / 12).cast("long") * 250 + 50).alias("valid_from"),
        F.concat(F.lit("p"), d.cast("string")).alias("policy"),
    )
    return asof_join(
        fetches, versions, "host", "fetch_time", "valid_from", ["policy"]
    )


_Q103_SQL = r"""
SELECT 'h' || CAST(doc_id % 12 AS VARCHAR) AS host,
       doc_id AS event_id,
       (doc_id * 7) % 1000 AS fetch_time,
       CASE WHEN (doc_id * 7) % 1000 < 50 THEN NULL
            ELSE 'p' || CAST((doc_id % 12)
                 + 12 * least(((doc_id * 7) % 1000 - 50) // 250, 2) AS VARCHAR)
       END AS policy
FROM documents
"""


def q104_range_lookup(spark, sf_dir):
    """Range join (operators/rangejoin.py — interval bucketing, the
    public range-join bin optimization): IP-block-style lookup of each
    event's containing interval via bucket-EQUI-join + exact containment
    filter, never an inequality cross join.  Overlapping intervals
    resolve to the narrowest (pinned (width, lo, md5) winner); uncovered
    points keep NULL.  Fixture: 40 arithmetic blocks of width 10-30 over
    [0,1000), points (doc_id*13)%1000, bucket width 50."""
    from eget_spark.operators.rangejoin import range_lookup

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    points = docs.select(d.alias("event_id"), ((d * 13) % 1000).alias("addr"))
    blocks = docs.where(d < 40).select(
        (d * 25).alias("lo"),
        (d * 25 + 10 + (d % 3) * 10).alias("hi"),
        F.concat(F.lit("blk"), d.cast("string")).alias("block"),
    )
    return range_lookup(
        points, blocks, "event_id", "addr", "lo", "hi", ["block"],
        bucket_width=50,
    )


_Q104_SQL = r"""
WITH pts AS (
  SELECT doc_id AS event_id, (doc_id * 13) % 1000 AS addr FROM documents
),
rng AS (
  SELECT doc_id * 25 AS lo, doc_id * 25 + 10 + (doc_id % 3) * 10 AS hi,
         'blk' || CAST(doc_id AS VARCHAR) AS block
  FROM documents WHERE doc_id < 40
),
j AS (
  SELECT event_id, block,
         row_number() OVER (
           PARTITION BY event_id
           ORDER BY hi - lo, lo, md5(block)
         ) AS rn
  FROM pts JOIN rng ON addr >= lo AND addr < hi
)
SELECT p.event_id, p.addr, w.block
FROM pts p LEFT JOIN (SELECT event_id, block FROM j WHERE rn = 1) w
  USING (event_id)
"""


def q105_rollup_merge(spark, sf_dir):
    """Time-bucketed rollup with mergeable partials (operators/rollup.py
    — the TimescaleDB continuous-aggregate / Druid rollup pattern): the
    events table splits into prior/delta halves, each rolls up to hourly
    (bucket, event_type) partials in 1e-6 fixed point, and merge_rollups
    folds them — the oracle computes the BATCH rollup directly, so the
    gate checks the merge identity rollup(prior)+rollup(delta) ==
    rollup(all) exactly.  Each rollup is one map-side-combined
    groupBy."""
    from eget_spark.operators.rollup import merge_rollups, rollup_events

    ev = _t(spark, sf_dir, "events")
    prior = ev.where(F.col("event_id") % 2 == 0)
    delta = ev.where(F.col("event_id") % 2 == 1)
    return merge_rollups(
        rollup_events(prior, "event_type", "ts", "value"),
        rollup_events(delta, "event_type", "ts", "value"),
    )


_Q105_SQL = r"""
WITH e AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
         event_type AS key,
         CAST(floor(CAST(value AS DOUBLE) * CAST(1000000 AS DOUBLE)
                    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v
  FROM events
)
SELECT bucket_us, key, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v) AS BIGINT) AS sum_value_fp,
       min(v) AS min_value_fp, max(v) AS max_value_fp
FROM e GROUP BY 1, 2
"""


_Q106_MEMBERS_SQL = r"""
  SELECT 'A' AS s, 'u' || CAST(doc_id % 300 AS VARCHAR) AS v
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 'B', 'u' || CAST(doc_id % 300 + 150 AS VARCHAR)
  FROM documents WHERE doc_id % 3 = 0
"""


def _q106_members(spark, sf_dir):
    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    a = docs.where(d % 2 == 0).select(
        F.lit("A").alias("s"),
        F.concat(F.lit("u"), (d % 300).cast("string")).alias("v"),
    )
    b = docs.where(d % 3 == 0).select(
        F.lit("B").alias("s"),
        F.concat(F.lit("u"), (d % 300 + 150).cast("string")).alias("v"),
    )
    return a.unionByName(b)


def q106_kmv_estimate(spark, sf_dir):
    """KMV distinct sketch (operators/kmv.py — Bar-Yossef et al. 2002 /
    Beyer et al. 2007 (k-1)/theta estimator) over two synthetic URL
    sets: k=32 smallest md5-60bit hashes per set, estimate exact-below-k
    else (k-1)/theta.  The md5 hash is identical cross-engine, so the
    oracle reproduces the sketch AND the estimate bit-for-bit — unlike
    HLL (q77) this sketch supports set ops (q107)."""
    from eget_spark.operators.kmv import kmv_estimate, kmv_sketches

    sk = kmv_sketches(_q106_members(spark, sf_dir), "s", "v", k=32)
    return kmv_estimate(sk, k=32)


_Q106_SQL = rf"""
WITH m AS ({_Q106_MEMBERS_SQL}),
h AS (SELECT DISTINCT s, CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
      FROM m),
sk AS (
  SELECT s, h FROM (
    SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS rn FROM h
  ) WHERE rn <= 32
)
SELECT s AS "set", CAST(count(*) AS BIGINT) AS n_sketch,
       round(CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
                  ELSE CAST(31 AS DOUBLE)
                       / (max(h) / CAST(1152921504606846976 AS DOUBLE)) END,
             6) AS est_distinct
FROM sk GROUP BY s
"""


def q107_kmv_setops(spark, sf_dir):
    """KMV set operations (operators/kmv.py): union/Jaccard/intersection
    estimates computed purely from the two k=32 sketches (never the raw
    sets) — union sketch = k smallest of the merged pool, jaccard =
    fraction of it present in both sketches, intersection = jaccard x
    union estimate.  The dedup-planning question HLL registers cannot
    answer."""
    from eget_spark.operators.kmv import kmv_set_ops, kmv_sketches

    sk = kmv_sketches(_q106_members(spark, sf_dir), "s", "v", k=32)
    return kmv_set_ops(sk, "A", "B", k=32)


_Q107_SQL = rf"""
WITH m AS ({_Q106_MEMBERS_SQL}),
h AS (SELECT DISTINCT s, CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
      FROM m),
sk AS (
  SELECT s, h FROM (
    SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS rn FROM h
  ) WHERE rn <= 32
),
a AS (SELECT h FROM sk WHERE s = 'A'),
b AS (SELECT h FROM sk WHERE s = 'B'),
pool AS (SELECT DISTINCT h FROM (SELECT h FROM a UNION ALL SELECT h FROM b)),
ksk AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                       FROM pool) WHERE rn <= 32),
bo AS (SELECT a.h FROM a JOIN b ON a.h = b.h),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_union_sketch,
         round(CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
                    ELSE CAST(31 AS DOUBLE)
                         / (max(k.h) / CAST(1152921504606846976 AS DOUBLE)) END,
               6) AS est_union,
         CAST(sum(CASE WHEN bo.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS matches
  FROM ksk k LEFT JOIN bo ON k.h = bo.h
)
SELECT n_union_sketch, est_union, matches,
       round(matches / CAST(n_union_sketch AS DOUBLE), 6) AS jaccard,
       round(round(matches / CAST(n_union_sketch AS DOUBLE), 6) * est_union,
             6) AS est_intersection
FROM agg
"""


def q108_exact_quantiles(spark, sf_dir):
    """Exact per-source length quantiles (operators/quantiles.py):
    p50/p90/p99 of n_chars per document source by pinned integer rank
    arithmetic — q_p = value at 1-based rank ceil(p*n) in (n_chars,
    doc_id) order, never an interpolation, so both engines return an
    actual data value.  ONE hash exchange: rank window and per-key
    aggregate share the partitioning."""
    from eget_spark.operators.quantiles import exact_quantiles

    docs = _t(spark, sf_dir, "documents")
    return exact_quantiles(docs, "source", "n_chars", "doc_id")


_Q108_SQL = r"""
WITH ranked AS (
  SELECT source AS key, n_chars AS v,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT key, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN rn = (n * 1 + 1) // 2 THEN v END) AS q_1_2,
       max(CASE WHEN rn = (n * 9 + 9) // 10 THEN v END) AS q_9_10,
       max(CASE WHEN rn = (n * 99 + 99) // 100 THEN v END) AS q_99_100
FROM ranked GROUP BY key
"""


def q109_path_rollup(spark, sf_dir):
    """URL path-prefix rollup (operators/pathrollup.py): every URL
    counts toward each of its directory prefixes (depth <= 3) — the
    site-structure analytics behind trap clustering and section-size
    dashboards.  Prefixes generate inside the row (one transform), then
    one explode + map-side-combined groupBy; output cardinality is
    directories, not URLs.  Fixture: 3-level arithmetic paths plus
    root-only URLs for the '/' bucket; the oracle rebuilds the prefix
    multiset arithmetically, independent of Spark's string parsing."""
    from eget_spark.operators.pathrollup import path_prefix_counts

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.when(
        d % 11 == 0,
        F.concat(F.lit("https://h"), (d % 8).cast("string"),
                 F.lit(".example.org")),
    ).otherwise(
        F.concat(
            F.lit("https://h"), (d % 8).cast("string"),
            F.lit(".example.org/a"), (d % 3).cast("string"),
            F.lit("/b"), (d % 5).cast("string"),
            F.lit("/p"), d.cast("string"),
        )
    )
    return path_prefix_counts(docs.select(url.alias("url")))


_Q109_SQL = r"""
WITH base AS (
  SELECT doc_id AS d,
         'h' || CAST(doc_id % 8 AS VARCHAR) || '.example.org' AS host
  FROM documents
),
pref AS (
  SELECT host, '/' AS prefix FROM base WHERE d % 11 = 0
  UNION ALL
  SELECT host, '/a' || CAST(d % 3 AS VARCHAR) FROM base WHERE d % 11 <> 0
  UNION ALL
  SELECT host, '/a' || CAST(d % 3 AS VARCHAR) || '/b' || CAST(d % 5 AS VARCHAR)
  FROM base WHERE d % 11 <> 0
  UNION ALL
  SELECT host, '/a' || CAST(d % 3 AS VARCHAR) || '/b' || CAST(d % 5 AS VARCHAR)
               || '/p' || CAST(d AS VARCHAR)
  FROM base WHERE d % 11 <> 0
)
SELECT host, prefix,
       CAST(CASE WHEN prefix = '/' THEN 0
                 ELSE len(string_split(prefix, '/')) - 1 END AS INTEGER)
         AS depth,
       CAST(count(*) AS BIGINT) AS n_pages
FROM pref GROUP BY host, prefix
"""


def q110_interval_overlap(spark, sf_dir):
    """Interval x interval overlap join (operators/rangejoin.
    interval_overlap_join): crawl-window collision pairs via the same
    bucket equi-join as q104 PLUS the claim-bucket dedup trick — a pair
    overlapping across k buckets emits only from the bucket containing
    max(lo_l, lo_r), so pair dedup is a filter, not a distinct shuffle.
    Fixture: 60 x 50 arithmetic windows; the oracle does the quadratic
    inequality join (fine at oracle scale) and must agree pair-for-pair
    with overlap = min(hi) - max(lo)."""
    from eget_spark.operators.rangejoin import interval_overlap_join

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    left = docs.where(d < 60).select(
        d.alias("crawl_a"), (d * 16).alias("lo"), (d * 16 + 24).alias("hi")
    )
    right = docs.where(d < 50).select(
        d.alias("crawl_b"), (d * 20 + 8).alias("lo"),
        (d * 20 + 40).alias("hi"),
    )
    return interval_overlap_join(
        left, right, "crawl_a", "crawl_b", bucket_width=32
    )


_Q110_SQL = r"""
WITH l AS (
  SELECT doc_id AS crawl_a, doc_id * 16 AS lo, doc_id * 16 + 24 AS hi
  FROM documents WHERE doc_id < 60
),
r AS (
  SELECT doc_id AS crawl_b, doc_id * 20 + 8 AS lo, doc_id * 20 + 40 AS hi
  FROM documents WHERE doc_id < 50
)
SELECT l.crawl_a, r.crawl_b,
       least(l.hi, r.hi) - greatest(l.lo, r.lo) AS overlap
FROM l JOIN r ON l.lo < r.hi AND r.lo < l.hi
"""


def q111_oov_rate(spark, sf_dir):
    """Tokenizer-coverage / OOV rate (functions/text.oov_stats): each
    doc's share of token occurrences outside the corpus' own top-100
    df-ranked vocabulary (ties token-asc, pinned).  Vocabulary is one
    explode-distinct + df count + top-k; scoring embeds the vocab as an
    isin literal — zero-join, zero-shuffle, the BM25/PQ literal-
    small-side discipline."""
    from eget_spark.functions.text import oov_stats

    return oov_stats(_t(spark, sf_dir, "documents"), "doc_id", "text", 100)


_Q111_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS t
  FROM documents
),
df_ AS (
  SELECT t, count(DISTINCT doc_id) AS dfreq FROM toks GROUP BY t
),
vocab AS (SELECT t FROM df_ ORDER BY dfreq DESC, t LIMIT 100),
per AS (
  SELECT doc_id, count(*) AS n,
         sum(CASE WHEN t IN (SELECT t FROM vocab) THEN 1 ELSE 0 END) AS inv
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens,
       CASE WHEN coalesce(p.n, 0) = 0 THEN 0.0
            ELSE round(1.0 - p.inv / CAST(p.n AS DOUBLE), 6) END AS oov_ratio
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def q112_lang_confusion(spark, sf_dir):
    """Lang-ID confusion matrix (functions/text.lang_id_df vs the
    corpus' planted ``lang`` labels): (true lang, predicted lang,
    n_docs) — the eval-loop query a curation pipeline runs after any
    lang-ID change.  One join on doc_id + one map-side-combined
    groupBy."""
    from eget_spark.functions.text import lang_id_df

    docs = _t(spark, sf_dir, "documents")
    pred = lang_id_df(docs, "doc_id", "text")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _q112_sql() -> str:
    return (
        "SELECT d.lang AS true_lang, p.pred_lang, "
        "CAST(count(*) AS BIGINT) AS n_docs "
        f"FROM documents d JOIN ({_q10_sql()}) p USING (doc_id) "
        "GROUP BY 1, 2"
    )


def q113_allpairs_cosine(spark, sf_dir):
    """All-pairs tf-cosine similarity via inverted-index self-join
    (operators/allpairs.py — Bayardo et al. WWW'07 shape).  Exact
    similarity scores, unlike the MinHash/SimHash candidate generators:
    integer tf keeps every sum engine-exact, the df<=max_df prune bounds
    per-term join fan-out (the 100-TB hot-posting-list control), and the
    pair aggregate map-side-combines."""
    from eget_spark.operators.allpairs import tf_cosine_pairs

    return tf_cosine_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        max_df=100, min_cos=0.3,
    )


_Q113_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
kept AS (SELECT term FROM tf GROUP BY term
         HAVING count(*) >= 2 AND count(*) <= 100),
post AS (SELECT tf.* FROM tf JOIN kept USING (term)),
norms AS (SELECT id, sum(tf * tf) AS n2 FROM post GROUP BY id),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, sum(a.tf * b.tf) AS dot
  FROM post a JOIN post b ON a.term = b.term AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
FROM pairs
JOIN norms na ON na.id = id_a
JOIN norms nb ON nb.id = id_b
WHERE CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.3
"""


def _q114_docs(spark, sf_dir):
    """Boilerplate fixture: 6 hosts; every page of a host shares a
    'welcome' line and a cross-host-colliding 'footer' line (both
    templates at frac=0.5), 1/5 share a 'promo' line (below threshold —
    5 is coprime with the 6-way host split, so the share is 1/5 on
    EVERY host), d%4==0 pages carry a blank line, and each page has a
    unique 'item' line."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    h = (d % 6).cast("string")
    text = F.concat(
        F.lit("welcome to host "), h,
        F.lit("\nitem "), d.cast("string"),
        F.when(d % 5 == 0, F.concat(F.lit("\npromo "), h)).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("\n")).otherwise(F.lit("")),
        F.lit("\nfooter "), (d % 2).cast("string"),
    )
    return docs.select(
        d.alias("doc_id"),
        F.concat(F.lit("h"), h).alias("host"),
        text.alias("text"),
    )


def q114_host_templates(spark, sf_dir):
    """Host-scoped boilerplate template detection (operators/
    boilerplate.host_templates): lines on >= ceil(frac*host_pages) of a
    host's pages, top-max_templates per host by (n_pages desc, line
    asc).  Counting is one explode + distinct + map-side-combined
    groupBy(host, line); cardinality is distinct host-lines, never
    occurrences."""
    from eget_spark.operators.boilerplate import host_templates

    return host_templates(
        _q114_docs(spark, sf_dir), "host", "doc_id", "text",
        frac=0.5, min_pages=5, max_templates=50,
    )


_Q114_SQL = r"""
WITH base AS (
  SELECT doc_id AS d, 'h' || CAST(doc_id % 6 AS VARCHAR) AS host
  FROM documents
),
hp AS (SELECT host, count(*) AS host_pages FROM base GROUP BY host),
lines AS (
  SELECT host, 'welcome to host ' || CAST(d % 6 AS VARCHAR) AS line FROM base
  UNION ALL
  SELECT host, 'item ' || CAST(d AS VARCHAR) FROM base
  UNION ALL
  SELECT host, 'promo ' || CAST(d % 6 AS VARCHAR) FROM base WHERE d % 5 = 0
  UNION ALL
  SELECT host, 'footer ' || CAST(d % 2 AS VARCHAR) FROM base
),
cnt AS (SELECT host, line, count(*) AS n_pages FROM lines GROUP BY host, line)
SELECT c.host, c.line, CAST(c.n_pages AS BIGINT) AS n_pages,
       CAST(h.host_pages AS BIGINT) AS host_pages
FROM cnt c JOIN hp h USING (host)
WHERE h.host_pages >= 5
  AND c.n_pages >= CAST(ceil(0.5 * h.host_pages) AS BIGINT)
"""


def q115_strip_boilerplate(spark, sf_dir):
    """Template-line removal (operators/boilerplate.strip_templates):
    every occurrence of a host's template lines dropped (unlike
    line-dedup's keep-first), blanks survive, reassembly in index
    order.  The per-host decision table (<= max_templates lines)
    broadcasts, so the exploded corpus never shuffles on line text."""
    from eget_spark.operators.boilerplate import strip_templates

    return strip_templates(
        _q114_docs(spark, sf_dir), "host", "doc_id", "text",
        frac=0.5, min_pages=5, max_templates=50,
    )


_Q115_SQL = r"""
SELECT doc_id AS id,
       'h' || CAST(doc_id % 6 AS VARCHAR) AS host,
       'item ' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'promo ' || CAST(doc_id % 6 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN chr(10) ELSE '' END AS text,
       CAST(1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
              + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_lines,
       CAST(2 AS BIGINT) AS n_dropped
FROM documents
"""


def q116_rate_anomalies(spark, sf_dir):
    """Per-key event-rate anomaly detection (operators/anomaly.py):
    z-score of each (key, bucket) count against the key's own mean/sd
    over the densified global bucket range; integer sums keep variance
    engine-exact (no var_pop accumulation-order dependence).  Fixture:
    event buckets spike at bucket 0 (~6x a normal bucket)."""
    from eget_spark.operators.anomaly import rate_anomalies

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    fixture = ev.select(
        F.concat(F.lit("u"), (F.col("user_id") % 5).cast("string")).alias("k"),
        F.when(e % 100 < 25, F.lit(0)).otherwise(e % 20).alias("bucket"),
    )
    return rate_anomalies(fixture, "k", "bucket", threshold=2.0)


_Q116_SQL = r"""
WITH ev AS (
  SELECT 'u' || CAST(user_id % 5 AS VARCHAR) AS key,
         CASE WHEN event_id % 100 < 25 THEN 0
              ELSE event_id % 20 END AS b
  FROM events
),
counts AS (SELECT key, b, count(*) AS cnt FROM ev GROUP BY key, b),
rng AS (SELECT min(b) AS lo, max(b) AS hi FROM ev),
dense AS (
  SELECT k.key, g.b, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
  FROM (SELECT DISTINCT key FROM ev) k
  CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM rng),
                                            (SELECT hi FROM rng))) AS b) g
  LEFT JOIN counts c ON c.key = k.key AND c.b = g.b
),
stats AS (
  SELECT key, count(*) AS nb, sum(cnt) AS s1, sum(cnt * cnt) AS s2
  FROM dense GROUP BY key
)
SELECT d.key, d.b AS bucket, d.cnt,
       (CAST(d.cnt AS DOUBLE) - CAST(s.s1 AS DOUBLE) / CAST(s.nb AS DOUBLE))
         / sqrt(CAST(s.nb * s.s2 - s.s1 * s.s1 AS DOUBLE)
                / CAST(s.nb * s.nb AS DOUBLE)) AS z
FROM dense d JOIN stats s USING (key)
WHERE s.nb * s.s2 - s.s1 * s.s1 > 0
  AND abs((CAST(d.cnt AS DOUBLE) - CAST(s.s1 AS DOUBLE) / CAST(s.nb AS DOUBLE))
          / sqrt(CAST(s.nb * s.s2 - s.s1 * s.s1 AS DOUBLE)
                 / CAST(s.nb * s.nb AS DOUBLE))) >= 2.0
"""


def q117_lsh_recall(spark, sf_dir):
    """Candidate-generator eval: MinHash-LSH candidates (q14 config)
    scored against exact 3-shingle Jaccard >= 0.05 truth (q15 config) —
    the recall/precision loop a curation pipeline runs before trusting
    an approximate dedup stage.  Pure composition of dedup operators +
    one full-outer join on the pair key; counts are integers, ratios
    round(6)."""
    from eget_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.05, k=3).select(
        "id_a", "id_b", F.lit(1).alias("_t")
    )
    cand = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, bands=4, k=3).select(
        "id_a", "id_b", F.lit(1).alias("_c")
    )
    both = truth.join(cand, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.sum(F.coalesce("_t", F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce("_c", F.lit(0))).cast("long").alias("n_cand"),
        F.sum(
            F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_hit"),
        F.round(
            F.sum(
                F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1).otherwise(0)
            )
            / F.sum(F.coalesce("_t", F.lit(0))),
            6,
        ).alias("recall"),
        F.round(
            F.sum(
                F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1).otherwise(0)
            )
            / F.sum(F.coalesce("_c", F.lit(0))),
            6,
        ).alias("precision"),
    )


def _q117_sql() -> str:
    truth = _Q15_SQL.strip().rstrip()
    cand = _q14_sql().strip()
    return f"""
WITH truth AS (SELECT id_a, id_b FROM ({truth})),
cand AS ({cand}),
j AS (
  SELECT coalesce(t.id_a, c.id_a) AS id_a,
         coalesce(t.id_b, c.id_b) AS id_b,
         (t.id_a IS NOT NULL) AS in_t, (c.id_a IS NOT NULL) AS in_c
  FROM truth t FULL OUTER JOIN cand c
    ON t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       round(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END)
             / CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS DOUBLE), 6)
         AS recall,
       round(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END)
             / CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS DOUBLE), 6)
         AS precision
FROM j
"""


def q118_crawl_cube(spark, sf_dir):
    """Crawl-analytics cube: doc counts and char volume by (source,
    lang) with all subtotal combinations via the native CUBE operator —
    Catalyst expands grouping sets in one pass (Expand + single
    HashAggregate), no union of four scans.  gid disambiguates planted
    NULLs from subtotal rows."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select("source", "lang", "n_docs", "sum_chars", "gid")
    )


_Q118_SQL = r"""
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid
FROM documents
GROUP BY CUBE (source, lang)
"""


def q119_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary-growth profile (functions/text.vocab_growth):
    distinct-token count among docs with id <= t for each threshold t —
    sizes tokenizers / predicts OOV decay as the crawl grows.  One
    map-side-combined min per token + a tiny threshold explode; no
    window over the corpus, no join."""
    from eget_spark.functions.text import vocab_growth

    return vocab_growth(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        thresholds=[10, 50, 200, 1000, 20000],
    )


_Q119_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS t
  FROM documents
),
first_ AS (SELECT t, min(doc_id) AS first_id FROM toks GROUP BY t),
th AS (SELECT unnest([10, 50, 200, 1000, 20000]) AS threshold)
SELECT CAST(th.threshold AS BIGINT) AS threshold,
       CAST(sum(CASE WHEN first_id <= th.threshold THEN 1 ELSE 0 END)
            AS BIGINT) AS vocab_size
FROM first_, th GROUP BY 1
"""


def q120_incremental_lsh(spark, sf_dir):
    """Incremental MinHash-LSH dedup (operators/dedup.lsh_bucket_table +
    lsh_match_against_index): docs with id%5==0 arrive as a NEW batch
    and probe the stored LSH index of the rest of the corpus — the
    between-crawl-batches dedup story where only the batch re-shingles
    (cost O(batch), not O(corpus)).  Multi-band dedup is a min-aggregate
    on the pair key, never a distinct over emitted pairs."""
    from eget_spark.operators.dedup import (
        lsh_bucket_table,
        lsh_match_against_index,
    )

    docs = _t(spark, sf_dir, "documents")
    index = lsh_bucket_table(
        docs.where(F.col("doc_id") % 5 != 0), "doc_id", "text",
        num_hashes=8, bands=4, k=3,
    )
    new = docs.where(F.col("doc_id") % 5 == 0)
    out = lsh_match_against_index(
        new, index, "doc_id", "text", num_hashes=8, bands=4, k=3
    )
    return out.select(
        "new_id", "index_id", F.col("band").cast("long").alias("band")
    )


def _q120_sql() -> str:
    bands = []
    for b in range(4):
        sig = " || '|' || ".join(f"CAST(mh{b * 2 + r} AS VARCHAR)" for r in range(2))
        bands.append(f"SELECT id, {b} AS band, md5({sig}) AS sig FROM sigs")
    buckets = " UNION ALL ".join(bands)
    return f"""
WITH sigs AS ({_minhash_sql(8)}),
buckets AS ({buckets})
SELECT n.id AS new_id, i.id AS index_id, CAST(min(n.band) AS BIGINT) AS band
FROM (SELECT * FROM buckets WHERE id % 5 = 0) n
JOIN (SELECT * FROM buckets WHERE id % 5 <> 0) i
  ON n.band = i.band AND n.sig = i.sig AND n.id <> i.id
GROUP BY 1, 2
"""


def q121_best_representatives(spark, sf_dir):
    """Quality-aware canonical selection (operators/dedup.
    select_representatives): within each near-dup cluster keep the doc
    with the most extracted chars (tie: lowest id) instead of q37's
    lowest-id convention — the curation step that keeps the
    best-extracted copy of a template family.  CC label propagation on
    the pair set only + ONE max(struct) per component (winner id rides
    in the struct, no join-back)."""
    from eget_spark.operators.dedup import (
        minhash_lsh_pairs,
        select_representatives,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, bands=4, k=3)
    return select_representatives(docs, pairs, "doc_id", "n_chars")


def _q121_sql() -> str:
    return f"""
WITH RECURSIVE
pairs AS ({_q14_sql()}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM e),
reach AS (
  SELECT id, id AS member FROM nodes
  UNION
  SELECT r.id, e.b FROM reach r JOIN e ON e.a = r.member
),
comp AS (SELECT id, min(member) AS component FROM reach GROUP BY id),
members AS (
  SELECT d.doc_id AS id, coalesce(c.component, d.doc_id) AS component,
         d.n_chars AS m
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
),
reps AS (
  SELECT component, id AS rep_id FROM (
    SELECT component, id,
           row_number() OVER (PARTITION BY component
                              ORDER BY m DESC, id ASC) AS rn
    FROM members) WHERE rn = 1
)
SELECT CAST(mm.id AS BIGINT) AS id, CAST(r.rep_id AS BIGINT) AS rep_id,
       mm.id <> r.rep_id AS is_duplicate
FROM members mm JOIN reps r USING (component)
"""


def q122_source_weighted_sample(spark, sf_dir):
    """Temperature / source-weighted Bernoulli sampling (operators/
    sampling.bernoulli_sample): source srcK keeps rate (K+1)/20, decided
    per row by an engine-exact integer hash compare (md5_60bit(id) <
    floor(p*2^60)) — bit-identical across engines, retries, and cluster
    sizes, unlike df.sample().  Pure projection+filter, zero shuffles."""
    from eget_spark.operators.sampling import bernoulli_sample

    docs = _t(spark, sf_dir, "documents")
    prob = (
        F.substring(F.col("source"), 4, 10).cast("long") + 1
    ) / F.lit(20).cast("double")
    return bernoulli_sample(docs, "doc_id", prob, seed="mix1").select(
        "doc_id", "source"
    )


_Q122_SQL = r"""
SELECT doc_id, source FROM documents
WHERE CAST(('0x' || substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      < CAST(floor(((CAST(substr(source, 4) AS BIGINT) + 1) / CAST(20 AS DOUBLE))
                    * 1152921504606846976.0) AS BIGINT)
"""


def q123_group_split(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/sampling.
    split_by_group): every doc of a host lands in the same split
    (bucket = md5_60bit(host) % 10; 8/1/1), so near-dups sharing the
    host can never straddle the train/eval boundary.  Pure projection —
    the hash is a function of the group value itself: NO group table,
    NO join, NO shuffle before the final stats aggregate."""
    from eget_spark.operators.sampling import split_by_group

    docs = _t(spark, sf_dir, "documents").withColumn(
        "host", F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string"))
    )
    return (
        split_by_group(docs, "host", seed="sp1")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("host").cast("long").alias("n_groups"),
        )
    )


_Q123_SQL = r"""
WITH b AS (
  SELECT doc_id, 'h' || CAST(doc_id % 50 AS VARCHAR) AS host,
         CAST(('0x' || substr(md5('sp1' || 'h' || CAST(doc_id % 50 AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT host) AS BIGINT) AS n_groups
FROM b GROUP BY 1
"""


def q124_readability(spark, sf_dir):
    """Flesch reading-ease readability (functions/text.
    flesch_reading_ease): the classic audience-level curation signal.
    ZERO-shuffle scan-side projection — syllables are an ``aggregate``
    HOF fold over the token array (no explode, no groupBy, no Exchange
    anywhere); all divisions are exactly-rounded doubles of int64
    counts, so the score is cross-engine bit-exact."""
    from eget_spark.functions.text import flesch_reading_ease

    return flesch_reading_ease(_t(spark, sf_dir, "documents"), "doc_id", "text")


_Q124_SQL = r"""
WITH base AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ws,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sent
  FROM documents
),
sig AS (
  SELECT id,
         CAST(n_sent AS BIGINT) AS n_sentences,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(ws,
              w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))), 0)
              AS BIGINT) AS n_syllables
  FROM base
)
SELECT id, n_sentences, n_words, n_syllables,
       CASE WHEN n_words > 0 THEN
         round(CAST(206.835 AS DOUBLE)
               - CAST(1.015 AS DOUBLE) * (n_words / CAST(n_sentences AS DOUBLE))
               - CAST(84.6 AS DOUBLE) * (n_syllables / CAST(n_words AS DOUBLE)), 6)
       END AS flesch
FROM sig
"""


def q125_bpe_pairs(spark, sf_dir):
    """Top-50 adjacent char-pair frequencies — the first merge-selection
    step of BPE tokenizer training (functions/text.bpe_pair_counts).
    The corpus compacts to its VOCABULARY first (one map-side-combined
    groupBy(word)), so the pair explode runs over |vocab| rows, not
    |corpus| tokens — the 100-TB tokenizer-training trick.  Tie order
    (n desc, pair asc) makes the top-k cut engine-exact."""
    from eget_spark.functions.text import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), "doc_id", "text", 50)


_Q125_SQL = r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS word
  FROM documents
),
vocab AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
pairs AS (
  SELECT unnest(list_transform(range(1, length(word)),
                               i -> substr(word, CAST(i AS INT), 2))) AS pair,
         cnt
  FROM vocab WHERE length(word) >= 2
)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50
"""


def q126_domain_quality(spark, sf_dir):
    """Per-registrable-domain quality rollup -> blocklist candidates
    (operators/quality_rules.domain_quality_rollup — the RefinedWeb/C4
    whole-domain curation step).  Per-doc quality converts to integer
    micro-units so the per-domain sum is EXACT int64 (never an
    order-dependent double sum); hosts are the q100 PSL fixture so the
    grouping key is the registrable domain, not the raw hostname."""
    from eget_spark.functions.text import quality_score
    from eget_spark.functions.urls import registrable_domain
    from eget_spark.operators.quality_rules import domain_quality_rollup

    d = F.col("doc_id")
    n = (d % 20).cast("string")
    host = (
        F.when(d % 6 == 0, F.concat(F.lit("www.ex"), n, F.lit(".co.uk")))
        .when(d % 6 == 1, F.concat(F.lit("blog.sub.ex"), n, F.lit(".com.au")))
        .when(d % 6 == 2, F.concat(F.lit("ex"), n, F.lit(".org")))
        .when(d % 6 == 3, F.concat(F.lit("a.b.c.ex"), n, F.lit(".co.jp")))
        .when(d % 6 == 4, F.lit("localhost"))
        .otherwise(F.concat(F.lit("ex"), n, F.lit(".io")))
    )
    docs = _t(spark, sf_dir, "documents").select(
        registrable_domain(host).alias("registrable"),
        quality_score(F.col("text")).alias("quality"),
    )
    return domain_quality_rollup(docs, "registrable", "quality", 0.55)


def _q126_sql() -> str:
    return f"""
WITH q AS ({_Q11_SQL}),
d AS (SELECT doc_id, registrable FROM ({_Q100_SQL})),
agg AS (
  SELECT registrable AS domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(round(quality * 1000000.0, 0) AS BIGINT)) AS BIGINT)
           AS sum_quality_micro
  FROM d JOIN q USING (doc_id) GROUP BY 1
)
SELECT domain, n_docs, sum_quality_micro,
       round(sum_quality_micro / CAST(n_docs AS DOUBLE) / 1000000.0, 6)
         AS avg_quality,
       round(sum_quality_micro / CAST(n_docs AS DOUBLE) / 1000000.0, 6) < 0.55
         AS low_quality
FROM agg
"""


def q127_ivf_pq_search(spark, sf_dir):
    """IVF-PQ approximate nearest neighbors (operators/pq.ivf_pq_topk —
    the full FAISS-style scale path): label-cell IVF routing by integer
    centroid distance + ADC scoring against m-byte PQ codes instead of
    raw vectors.  ALL arithmetic is fixed-point int64, so routing, code
    assignment, distance tables, and the final top-k are bit-exact
    against the unrolled SQL Lloyd chains."""
    from eget_spark.operators.pq import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb, emb.where(F.col("vec_id") % 97 == 0), "label",
        "vec_id", "embedding", m=4, k_codes=4, n_iter=2, k=5, nprobe=2,
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "adc_fp",
        F.col("rank").cast("int").alias("rank"),
    )


def _q127_sql() -> str:
    from eget_spark.operators.pq import ivf_pq_oracle_sql

    return ivf_pq_oracle_sql(
        "embeddings", "vec_id", "embedding", "label", dim=64,
        m=4, k_codes=4, n_iter=2, k=5, nprobe=2, query_pred="id % 97 = 0",
    )


def q128_adaptive_quality(spark, sf_dir):
    """Adaptive per-language quality filtering (operators/quality_rules.
    adaptive_quality_filter — the FineWeb-style curation step): each
    lang drops its own bottom decile by the q108 exact-rank cutoff
    arithmetic, so low-resource languages aren't wiped out by an
    English-tuned global threshold.  One window shuffle on lang; the
    |langs|-row cutoff table broadcasts back — no second corpus
    shuffle."""
    from eget_spark.functions.text import quality_score
    from eget_spark.operators.quality_rules import adaptive_quality_filter

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_score(F.col("text")).alias("quality")
    )
    return adaptive_quality_filter(docs, "lang", "quality", "doc_id", 1, 10)


def _q128_sql() -> str:
    return f"""
WITH q AS ({_Q11_SQL}),
j AS (SELECT d.doc_id, d.lang, q.quality
      FROM documents d JOIN q USING (doc_id)),
r AS (SELECT *,
             row_number() OVER (PARTITION BY lang
                                ORDER BY quality, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM j),
c AS (SELECT lang, max(quality) AS cutoff
      FROM r WHERE rn = CAST(floor((n * 1 + 9) / 10) AS BIGINT) GROUP BY lang)
SELECT j.doc_id AS id, j.lang AS "group", j.quality AS score, c.cutoff,
       j.quality >= c.cutoff AS keep
FROM j JOIN c USING (lang)
"""


def q129_meta_robots(spark, sf_dir):
    """Meta-robots / X-Robots-Tag indexing-consent gate (functions/
    metadata.robots_directives): noindex blocks page storage, nofollow
    blocks link expansion, ``none`` implies both; the header value
    unions with the first robots meta tag.  HTML fixture: doc_id%4
    plants no-tag/noindex/nofollow/both; doc_id%5==0 adds a noindex
    header.  Zero-shuffle regexp column algebra; the final verdicts
    pipe straight into the crawl loop's store/expand filters."""
    from eget_spark.functions.metadata import robots_directives

    d = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>d</title>"),
        F.when(d % 4 == 1, F.lit('<meta name="robots" content="noindex">'))
        .when(d % 4 == 2, F.lit('<meta name="robots" content="nofollow">'))
        .when(d % 4 == 3, F.lit('<meta name="robots" content="noindex, nofollow">'))
        .otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    header = F.when(d % 5 == 0, F.lit("NOINDEX")).otherwise(F.lit(""))
    noindex, nofollow = robots_directives(html, header)
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        (~noindex).alias("store_page"),
        (~nofollow).alias("expand_links"),
    )


_Q129_SQL = r"""
WITH base AS (
  SELECT doc_id,
         '<html><head><title>d</title>' ||
         CASE doc_id % 4
           WHEN 1 THEN '<meta name="robots" content="noindex">'
           WHEN 2 THEN '<meta name="robots" content="nofollow">'
           WHEN 3 THEN '<meta name="robots" content="noindex, nofollow">'
           ELSE ''
         END || '</head><body>x</body></html>' AS html,
         CASE WHEN doc_id % 5 = 0 THEN 'NOINDEX' ELSE '' END AS hdr
  FROM documents
),
d AS (
  SELECT doc_id,
         regexp_split_to_array(
           lower(regexp_extract(html, '<meta\s+name="robots"\s+content="([^"]*)"', 1, 'i'))
           || ',' || lower(hdr),
           '[,\s]+') AS toks
  FROM base
)
SELECT doc_id,
       list_has_any(toks, ['noindex', 'none']) AS noindex,
       list_has_any(toks, ['nofollow', 'none']) AS nofollow,
       NOT list_has_any(toks, ['noindex', 'none']) AS store_page,
       NOT list_has_any(toks, ['nofollow', 'none']) AS expand_links
FROM d
"""


def q130_split_leakage(spark, sf_dir):
    """Cross-split n-gram leakage audit (operators/decontaminate.
    split_leakage): after the q123 host-consistent split assignment,
    count distinct 5-grams present in two splits and the gram-level
    collision mass — the post-split check that eval contamination
    prescribes.  The corpus compacts to (gram, split, n_docs) first, so
    the gram-keyed self-join never materializes doc pairs."""
    from eget_spark.operators.decontaminate import split_leakage
    from eget_spark.operators.sampling import split_by_group

    docs = _t(spark, sf_dir, "documents").withColumn(
        "host", F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string"))
    )
    return split_leakage(
        split_by_group(docs, "host", seed="sp1"), "split", "doc_id", "text", 5
    )


_Q130_SQL = r"""
WITH b AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(md5('sp1' || 'h' || CAST(doc_id % 50 AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 AS bucket
  FROM documents
),
sp AS (
  SELECT doc_id, text,
         CASE WHEN bucket < 8 THEN 'train'
              WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split
  FROM b
),
toks AS (
  SELECT doc_id, split,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM sp
),
grams AS (
  SELECT doc_id, split, array_to_string(t[i:i+4], ' ') AS s
  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 5
  UNION
  SELECT doc_id, split, array_to_string(t, ' ') FROM toks WHERE len(t) < 5
),
gs AS (
  SELECT s, split, CAST(count(*) AS BIGINT) AS n_docs
  FROM (SELECT DISTINCT doc_id, split, s FROM grams) GROUP BY s, split
)
SELECT a.split AS split_a, b.split AS split_b,
       CAST(count(*) AS BIGINT) AS n_grams_shared,
       CAST(sum(a.n_docs * b.n_docs) AS BIGINT) AS n_collisions
FROM gs a JOIN gs b ON a.s = b.s AND a.split < b.split
GROUP BY 1, 2
"""


def q131_circuit_breaker(spark, sf_dir):
    """Per-host failure circuit breaker (operators/politeness.
    host_circuit_breaker): hosts h0-h4 of the synthetic fetch log fail
    ~70% of attempts (dead-server fixture) and trip the integer-only
    failure-budget rule (n_failures*100 > 50*n_attempts at >=10
    attempts); healthy hosts (~10% fail) don't.  ONE map-side-combined
    groupBy(host); the tripped set broadcasts into admission like
    robots verdicts."""
    from eget_spark.operators.politeness import host_circuit_breaker

    d = F.col("doc_id")
    log = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (d % 30).cast("string")).alias("host"),
        F.when(d % 30 < 5, (d * 7) % 10 < 3).otherwise((d * 7) % 10 < 9).alias(
            "ok"
        ),
    )
    return host_circuit_breaker(log, "host", "ok", min_attempts=10, max_fail_pct=50)


_Q131_SQL = r"""
WITH log AS (
  SELECT 'h' || CAST(doc_id % 30 AS VARCHAR) AS host,
         CASE WHEN doc_id % 30 < 5 THEN (doc_id * 7) % 10 < 3
              ELSE (doc_id * 7) % 10 < 9 END AS ok
  FROM documents
),
agg AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_attempts,
         CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_failures
  FROM log GROUP BY host
)
SELECT host, n_attempts, n_failures,
       (n_attempts >= 10 AND n_failures * 100 > 50 * n_attempts) AS tripped
FROM agg
"""


def q132_pptx_convert(spark, sf_dir):
    """C4 PPTX conversion end-to-end on real bytes (sources/ooxml.
    decode_pptx_bytes + converters.pptx_events_to_spans): 18 .pptx zip
    archives synthesized in-memory by the stdlib writer, decoded by
    zipfile+ElementTree inside convert_files' distributed mapInPandas,
    exploded to one row per span.  The reference DECLARES FileType.PPTX
    (file_conversion_models.py:10) but ships its converter commented out
    (converter_factory.py:37) — this closes the declared enum.  Every
    field derives from arithmetic on the file index, so DuckDB
    reproduces the expected span table independently."""
    from eget_spark.sources.converters import convert_files
    from eget_spark.sources.ooxml import build_pptx_bytes

    rows = []
    for i in range(18):
        slides = [
            {
                "title": f"Deck {i}",
                "paras": [
                    (f"intro {i}", False, 0),
                    (f"point a{i}", True, 0),
                    (f"point b{i}", True, 1),
                    (f"outro {i}", False, 0),
                ],
            },
            {"title": None, "paras": [], "table": [["k", "v"], [f"r{i}", str(i * i)]]},
        ]
        rows.append((f"mem://pptx/{i:04d}.pptx", bytearray(build_pptx_bytes(slides))))
    files = spark.createDataFrame(rows, "path string, content binary")
    return (
        convert_files(files, dedupe_content=False)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.offset").cast("int").alias("pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
        )
    )


_Q132_SQL = r"""
WITH i AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 18)),
spans AS (
  SELECT i, 0 AS pos, 'heading' AS kind, '## Slide 1: Deck ' || i AS text FROM i
  UNION ALL SELECT i, 1, 'paragraph', 'intro ' || i FROM i
  UNION ALL SELECT i, 2, 'list',
    'point a' || i || chr(10) || '  point b' || i FROM i
  UNION ALL SELECT i, 3, 'paragraph', 'outro ' || i FROM i
  UNION ALL SELECT i, 4, 'heading', '## Slide 2' FROM i
  UNION ALL SELECT i, 5, 'table',
    'k' || chr(9) || 'v' || chr(10) || 'r' || i || chr(9) || (i * i) FROM i
)
SELECT 'mem://pptx/' || lpad(CAST(i AS VARCHAR), 4, '0') || '.pptx' AS doc_id,
       CAST(pos AS INT) AS pos, kind, text
FROM spans
"""


def q133_sitemap_stale(spark, sf_dir):
    """Sitemap-lastmod conditional recrawl set (sources/sitemaps.
    sitemap_stale_urls): stale iff lastmod strictly newer than the
    stored fetch time; never-fetched sitemap URLs are 'new'; missing
    lastmod is never stale (conservative sitemaps.org reading).  ONE
    uniform left join on the url key; the output IS plans/crawl.recrawl's
    expired set."""
    from eget_spark.sources.sitemaps import sitemap_stale_urls

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    parsed = docs.select(
        F.lit("url").alias("kind"),
        F.concat(F.lit("http://ex.com/u"), d.cast("string")).alias("loc"),
        F.when(
            d % 7 != 3,
            F.date_format(
                F.date_add(F.lit("2024-01-01").cast("date"), (d % 40).cast("int")),
                "yyyy-MM-dd",
            ),
        ).alias("lastmod"),
    )
    fetched = docs.where(d % 5 != 0).select(
        F.concat(F.lit("http://ex.com/u"), d.cast("string")).alias("url"),
        F.date_add(F.lit("2024-01-01").cast("date"), (d % 25).cast("int"))
        .cast("timestamp")
        .alias("fetched_at"),
    )
    return sitemap_stale_urls(parsed, fetched)


_Q133_SQL = r"""
WITH sm AS (
  SELECT 'http://ex.com/u' || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 7 <> 3
              THEN CAST(DATE '2024-01-01' + INTERVAL (doc_id % 40) DAY AS TIMESTAMP)
         END AS lastmod
  FROM documents
),
st AS (
  SELECT 'http://ex.com/u' || CAST(doc_id AS VARCHAR) AS url,
         CAST(DATE '2024-01-01' + INTERVAL (doc_id % 25) DAY AS TIMESTAMP)
           AS fetched_at
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT sm.url, sm.lastmod, st.fetched_at,
       CASE WHEN st.fetched_at IS NULL THEN 'new' ELSE 'stale' END AS reason
FROM sm LEFT JOIN st USING (url)
WHERE st.fetched_at IS NULL
   OR (sm.lastmod IS NOT NULL AND sm.lastmod > st.fetched_at)
"""


def q134_hreflang_clusters(spark, sf_dir):
    """hreflang alternate clusters (operators/canonical.
    hreflang_clusters): pages of a 3-variant language set cluster via
    rel=alternate edges; canonical = min x-default target when present
    (groups with g%2==0 plant one), else min member.  Label propagation
    on the edge set only + one map-side-combined x-default min per
    component."""
    from eget_spark.operators.canonical import hreflang_clusters

    d = F.col("doc_id")
    g = (d - d % 3).cast("string")
    url = F.concat(F.lit("u"), g, F.lit("-"), (d % 3).cast("string"))
    variants = F.array(
        *[
            F.struct(
                F.concat(F.lit("u"), g, F.lit("-"), F.lit(str(v))).alias("alt_url"),
                (
                    F.when(d % 6 < 3, F.lit("x-default")).otherwise(F.lit("fr"))
                    if v == 2
                    else F.lit(["en", "de"][v])
                ).alias("hreflang"),
            )
            for v in range(3)
        ]
    )
    links = (
        _t(spark, sf_dir, "documents")
        .select(url.alias("url"), F.explode(variants).alias("v"))
        .select("url", F.col("v.alt_url"), F.col("v.hreflang"))
    )
    return hreflang_clusters(links)


_Q134_SQL = r"""
WITH RECURSIVE
base AS (
  SELECT doc_id, CAST(doc_id - doc_id % 3 AS VARCHAR) AS g,
         doc_id % 3 AS v0, doc_id % 6 < 3 AS has_default
  FROM documents
),
links AS (
  SELECT 'u' || g || '-' || CAST(v0 AS VARCHAR) AS url,
         'u' || g || '-' || CAST(u.v AS VARCHAR) AS alt_url,
         CASE WHEN u.v = 2 AND has_default THEN 'x-default'
              WHEN u.v = 0 THEN 'en' WHEN u.v = 1 THEN 'de'
              ELSE 'fr' END AS hreflang
  FROM base, UNNEST([0, 1, 2]) AS u(v)
),
e AS (SELECT url AS a, alt_url AS b FROM links
      UNION ALL SELECT alt_url, url FROM links),
nodes AS (SELECT DISTINCT a AS id FROM e),
reach AS (
  SELECT id, id AS member FROM nodes
  UNION
  SELECT r.id, e.b FROM reach r JOIN e ON e.a = r.member
),
comp AS (SELECT id, min(member) AS component FROM reach GROUP BY id),
xd AS (
  SELECT c.component, min(l.alt_url) AS xdef
  FROM links l JOIN comp c ON c.id = l.url
  WHERE lower(l.hreflang) = 'x-default'
  GROUP BY c.component
)
SELECT comp.id AS url, comp.component AS cluster_id,
       coalesce(xd.xdef, comp.component) AS canonical_url
FROM comp LEFT JOIN xd USING (component)
"""


def q135_mixture_report(spark, sf_dir):
    """Corpus-mixture board: (split, source) doc and token counts plus
    each cell's exact token share in PER-MILLE of its split — the report
    a data team reads before training (composes q123 group splits with
    the engine token contract).  Shares are integer-exact: permille =
    cell_tokens * 1000 DIV split_tokens (true int64 division — no float
    ratio ever forms).  One map-side-combined groupBy + a tiny
    |splits|-row broadcast join."""
    from eget_spark.operators.sampling import split_by_group

    docs = _t(spark, sf_dir, "documents").withColumn(
        "host", F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string"))
    )
    toks = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    cells = (
        split_by_group(docs, "host", seed="sp1")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(toks).cast("long").alias("n_tokens"),
        )
    )
    totals = cells.groupBy("split").agg(
        F.sum("n_tokens").alias("_split_tokens")
    )
    return cells.join(F.broadcast(totals), "split").select(
        "split",
        "source",
        "n_docs",
        "n_tokens",
        F.expr("CAST((n_tokens * 1000) DIV _split_tokens AS BIGINT)").alias(
            "permille_of_split"
        ),
    )


_Q135_SQL = r"""
WITH b AS (
  SELECT doc_id, source, text,
         CAST(('0x' || substr(md5('sp1' || 'h' || CAST(doc_id % 50 AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 AS bucket
  FROM documents
),
cells AS (
  SELECT CASE WHEN bucket < 8 THEN 'train'
              WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split,
         source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END) AS BIGINT) AS n_tokens
  FROM b GROUP BY 1, 2
),
tot AS (SELECT split, sum(n_tokens) AS st FROM cells GROUP BY split)
SELECT c.split, c.source, c.n_docs, c.n_tokens,
       CAST((c.n_tokens * 1000) // t.st AS BIGINT) AS permille_of_split
FROM cells c JOIN tot t USING (split)
"""


def q136_bpe_stats(spark, sf_dir):
    """BPE tokenizer training + encoding (operators/bpe.py): learn 10
    merges from the corpus (occurrence-weighted pair argmax over the
    compacted word VOCAB, ties lexicographic), encode every doc with the
    greedy left-to-right fold, return per-doc (n_words, n_char_tokens,
    n_bpe_tokens).  Everything is JVM higher-order array expressions —
    no Python in any per-row path.  NO SQL ORACLE (iterative training
    loop — the documented rows-only class); the pure-Python reference
    equality lives in tests/test_bpe.py."""
    from eget_spark.operators.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=10)
    return bpe_encode(docs, "doc_id", "text", merges).select(
        "id", "n_words", "n_char_tokens", "n_bpe_tokens"
    )


def q137_trained_ivf(spark, sf_dir):
    """IVF ANN over TRAINED cells — the realistic index-build path: q78's
    fixed-point Lloyd k-means assigns every vector to one of k=4 learned
    cells (instead of q18's planted labels), and the q18 router then
    probes nprobe cells by centroid cosine.  End-to-end the whole ANN
    story is oracle-exact: the Lloyd chains unroll in SQL, and the
    routing/scoring reuses the pinned round-6 cosine arithmetic."""
    from eget_spark.operators.kmeans import kmeans_fp

    emb = _t(spark, sf_dir, "embeddings")
    cells = kmeans_fp(emb, "vec_id", "embedding", k=4, n_iter=2).select(
        F.col("id").alias("vec_id"), F.col("cluster")
    )
    corpus = emb.join(cells, "vec_id").select("vec_id", "cluster", "embedding")
    queries = corpus.where(F.col("vec_id") % 97 == 0)
    out = ivf_topk(corpus, queries, "cluster", "vec_id", "embedding", k=5, nprobe=2)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("int").alias("rank"),
    )


def _q137_sql() -> str:
    from eget_spark.operators.kmeans import kmeans_oracle_sql

    km = kmeans_oracle_sql("embeddings", "vec_id", "embedding", k=4, n_iter=2)
    return f"""
WITH v AS ({_VECS_SQL}),
km AS (SELECT * FROM ({km})),
corpus AS (
  SELECT v.vec_id, km.cluster AS cell, v.v
  FROM v JOIN km ON km.id = v.vec_id
),
dims AS (
  SELECT cell, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM corpus
),
cent AS (
  SELECT cell, list(m ORDER BY dim) AS centroid
  FROM (SELECT cell, dim, avg(x) AS m FROM dims GROUP BY cell, dim)
  GROUP BY cell
),
q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id % 97 = 0),
routed AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
      row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY round(list_sum(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i]*c.centroid[i])) /
          (sqrt(list_sum(list_transform(q.qv, x -> x*x))) * sqrt(list_sum(list_transform(c.centroid, x -> x*x)))), 6) DESC,
        c.cell) AS crank
    FROM q, cent c)
  WHERE crank <= 2
),
scored AS (
  SELECT r.query_id, e.vec_id AS neighbor_id,
    round(list_sum(list_transform(generate_series(1, len(r.qv)), i -> r.qv[i]*e.v[i])) /
      (sqrt(list_sum(list_transform(r.qv, x -> x*x))) * sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cosine
  FROM routed r JOIN corpus e ON e.cell = r.cell AND e.vec_id <> r.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q138_trustrank(spark, sf_dir):
    """Graph op: 5-iteration fixed-point TrustRank (Gyöngyi et al., VLDB
    2004) over the analytics link graph — PageRank personalized on the
    trusted seed set doc_id % 17 == 0.  Teleport and dangling mass go
    only to seeds, so link-farm shapes (high in-degree, unreachable from
    trust) converge to 0; a priority crawl demotes them before fetching.
    Same int64 fixed-point discipline as q40 (operators/graph.
    trustrank_fixed), bit-exact vs the unrolled-CTE oracle."""
    from eget_spark.operators.graph import trustrank_fixed

    nodes, edges = _arith_edges(spark, sf_dir)
    seeds = nodes.where(F.col("id") % 17 == 0)
    tr = trustrank_fixed(nodes, edges, seeds, n_iter=5)
    return tr.select(F.col("id").alias("doc_id"), "tr_fp")


def _q138_sql(
    n_iter: int = 5, damp_num: int = 17, damp_den: int = 20, scale: int = 10**12
) -> str:
    base = (
        f"(({scale} * {damp_den - damp_num}) // {damp_den})"
        " // (SELECT c FROM s)"
    )
    parts = [
        "WITH ",
        _EDGES_SQL.lstrip(),
        ",\ns AS (SELECT count(*) AS c FROM documents WHERE doc_id % 17 = 0)",
        ",\nodeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        f""",
p0 AS (SELECT doc_id AS id,
              CASE WHEN doc_id % 17 = 0 THEN {scale} // (SELECT c FROM s)
                   ELSE 0 END AS tr_fp
       FROM documents)""",
    ]
    for i in range(1, n_iter + 1):
        dang = (
            f"(SELECT coalesce(sum(p.tr_fp), 0) FROM p{i-1} p "
            f"LEFT JOIN odeg o ON o.src = p.id WHERE o.src IS NULL)"
        )
        parts.append(
            f""",
p{i} AS (
  SELECT d.doc_id AS id,
         CAST(CASE WHEN d.doc_id % 17 = 0 THEN {base} ELSE 0 END
              + ({damp_num} * (coalesce(t.contrib, 0)
                               + CASE WHEN d.doc_id % 17 = 0
                                      THEN {dang} // (SELECT c FROM s)
                                      ELSE 0 END)) // {damp_den}
           AS BIGINT) AS tr_fp
  FROM documents d LEFT JOIN (
    SELECT e.dst AS id, sum(p.tr_fp // o.od) AS contrib
    FROM edges e JOIN odeg o ON o.src = e.src JOIN p{i-1} p ON p.id = e.src
    GROUP BY e.dst) t ON t.id = d.doc_id)"""
        )
    parts.append(f"\nSELECT id AS doc_id, tr_fp FROM p{n_iter}")
    return "".join(parts)


def q139_budget_apportion(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment of a 10,007-slot global
    fetch budget across sources in proportion to their int64 char volume
    (operators/politeness.apportion_budget) — the exact-integer step
    between a priority signal and schedule_round's per-host budgets:
    sum(budget) == 10007 EXACTLY, no float ratio, ties pinned by key."""
    from eget_spark.operators.politeness import apportion_budget

    docs = _t(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("weight")
    )
    out = apportion_budget(w, 10007, key_col="source", weight_col="weight")
    return out.select(F.col("key").alias("source"), "weight", "budget")


_Q139_SQL = """
WITH w AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS weight
  FROM documents GROUP BY source
),
q AS (
  SELECT source, weight,
         (10007 * weight) // (SELECT sum(weight) FROM w) AS base,
         (10007 * weight) % (SELECT sum(weight) FROM w) AS rem
  FROM w
)
SELECT source, weight,
       CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
                             <= (SELECT 10007 - sum(base) FROM q)
                        THEN 1 ELSE 0 END AS BIGINT) AS budget
FROM q
"""


def q140_mirror_hosts(spark, sf_dir):
    """Mirror-host detection (operators/mirrors.mirror_host_pairs):
    exact content-set Jaccard between host pairs — the Bharat/Broder
    mirror signal that demotes a host's REMAINING frontier once its
    content set matches an already-crawled host's.  The corpus plants
    mirrors deterministically: every doc serves on host doc_id % 5, and
    docs with doc_id % 3 == 0 ALSO serve on host (doc_id+1) % 5, so
    adjacent hosts overlap partially.  All arithmetic int64 (permille by
    floor division); hashes = the repo-standard portable md5-60bit."""
    from eget_spark.operators.mirrors import mirror_host_pairs

    docs = _t(spark, sf_dir, "documents")
    h = lambda e: F.concat(F.lit("h"), (e % 5).cast("string")).alias("host")
    corpus = docs.select(h(F.col("doc_id")), "text").unionAll(
        docs.where(F.col("doc_id") % 3 == 0).select(
            h(F.col("doc_id") + 1), "text"
        )
    )
    return mirror_host_pairs(corpus, "host", "text", max_hosts_per_hash=64)


_Q140_SQL = """
WITH corpus AS (
  SELECT 'h' || CAST(doc_id % 5 AS VARCHAR) AS host, text FROM documents
  UNION ALL
  SELECT 'h' || CAST((doc_id + 1) % 5 AS VARCHAR) AS host, text
  FROM documents WHERE doc_id % 3 = 0
),
sets AS (
  SELECT DISTINCT host,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
  FROM corpus
),
sizes AS (SELECT host, CAST(count(*) AS BIGINT) AS n FROM sets GROUP BY host),
kept AS (
  SELECT s.host, s.h FROM sets s
  JOIN (SELECT h FROM sets GROUP BY h HAVING count(*) <= 64) k ON k.h = s.h
),
pairs AS (
  SELECT a.host AS host_a, b.host AS host_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM kept a JOIN kept b ON a.h = b.h AND a.host < b.host
  GROUP BY 1, 2
)
SELECT p.host_a, p.host_b, sa.n AS n_a, sb.n AS n_b, p.n_common,
       CAST((1000 * p.n_common) // (sa.n + sb.n - p.n_common) AS BIGINT)
         AS jac_permille
FROM pairs p
JOIN sizes sa ON sa.host = p.host_a
JOIN sizes sb ON sb.host = p.host_b
"""


def q141_balanced_shards(spark, sf_dir):
    """Size-balanced output-shard assignment (operators/packing.
    striped_shards): documents rank by (n_chars desc, doc_id asc) and
    stripe round-robin over 7 shards — the deterministic LPT form that
    keeps 100 TB output files near-equal without sequential state.  The
    global rank uses the bucketed with_global_seq path (range exchange +
    prefix offsets), never a single-partition window."""
    from eget_spark.operators.packing import striped_shards

    docs = _t(spark, sf_dir, "documents")
    out = striped_shards(docs, "doc_id", "n_chars", n_shards=7)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("size").alias("n_chars"),
        "shard",
    )


_Q141_SQL = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST((row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1) % 7
         AS BIGINT) AS shard
FROM documents
"""


def q142_focused_priorities(spark, sf_dir):
    """Focused-crawl frontier scoring (operators/focus.py, the
    Chakrabarti/Shark-Search family): pages score by topic-keyword
    occurrence count (zero-shuffle array probe), candidates inherit
    ``(rel(parent) * 1) div 2`` from their BEST inbound parent — one
    src join + one map-side max per dst, the single-shuffle shape of a
    PageRank iteration.  All int64; priorities order schedule_round."""
    from eget_spark.operators.focus import focused_priorities, keyword_relevance

    docs = _t(spark, sf_dir, "documents")
    _, edges = _arith_edges(spark, sf_dir)
    rel = keyword_relevance(docs, "doc_id", "text", ["spark", "query", "join"])
    out = focused_priorities(rel, edges, decay_num=1, decay_den=2)
    return out.select(F.col("dst").alias("doc_id"), "priority")


_Q142_SQL = f"""
WITH {_EDGES_SQL.lstrip()},
rel AS (
  SELECT doc_id,
         CAST(len(list_filter({_TOKS_SQL},
                              t -> t IN ('spark', 'query', 'join')))
           AS BIGINT) AS rel
  FROM documents
)
SELECT e.dst AS doc_id, CAST(max((r.rel * 1) // 2) AS BIGINT) AS priority
FROM edges e JOIN rel r ON r.doc_id = e.src
GROUP BY e.dst
"""


def q143_ngram_novelty(spark, sf_dir):
    """Marginal-novelty scoring (operators/novelty.py): the permille of
    each doc's distinct word trigrams that NO earlier doc (smaller
    doc_id) already contributed — first-occurrence-wins lifted from
    lines (q58) to n-grams; low-novelty docs are cut or downsampled
    before training.  One distinct explode + one min-per-gram aggregate
    + a unique-key join back; int64 floor-division permille."""
    from eget_spark.operators.novelty import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(docs, "doc_id", "text", n=3).select(
        F.col("id").alias("doc_id"), "n_grams", "n_novel", "novelty_permille"
    )


_Q143_SQL = f"""
WITH g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, unnest({_SHINGLE_SQL}) AS gram FROM documents
  )
),
f AS (SELECT gram, min(doc_id) AS first_id FROM g GROUP BY gram),
s AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN g.doc_id = f.first_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_novel
  FROM g JOIN f ON f.gram = g.gram
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(s.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(CASE WHEN coalesce(s.n_grams, 0) > 0
                 THEN (1000 * s.n_novel) // s.n_grams
                 ELSE 1000 END AS BIGINT) AS novelty_permille
FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
"""


def q144_site_size_estimate(spark, sf_dir):
    """Lincoln-Petersen capture-recapture site-size estimation
    (operators/recrawl.site_size_estimate): two independent 60%% crawl
    samples per source (hash-deterministic Bernoulli draws, q122
    discipline); est = (n_a * n_b) div n_common answers "how big is
    this host" before committing frontier budget.  All int64."""
    from eget_spark.operators.kmv import md5_60bit
    from eget_spark.operators.recrawl import site_size_estimate

    docs = _t(spark, sf_dir, "documents")
    pick = lambda tag: (
        md5_60bit(F.concat(F.lit(tag), F.col("doc_id").cast("string"))) % 5
        < 3
    )
    a = docs.where(pick("cap-a")).select("source", "doc_id")
    b = docs.where(pick("cap-b")).select("source", "doc_id")
    out = site_size_estimate(a, b, "source", "doc_id")
    return out.select(
        F.col("key").alias("source"), "n_a", "n_b", "n_common", "est_size"
    )


_Q144_SQL = """
WITH a AS (
  SELECT DISTINCT source, doc_id FROM documents
  WHERE CAST(('0x' || substr(md5('cap-a' || CAST(doc_id AS VARCHAR)), 1, 15))
          AS BIGINT) % 5 < 3
),
b AS (
  SELECT DISTINCT source, doc_id FROM documents
  WHERE CAST(('0x' || substr(md5('cap-b' || CAST(doc_id AS VARCHAR)), 1, 15))
          AS BIGINT) % 5 < 3
),
na AS (SELECT source, CAST(count(*) AS BIGINT) AS n_a FROM a GROUP BY source),
nb AS (SELECT source, CAST(count(*) AS BIGINT) AS n_b FROM b GROUP BY source),
m AS (
  SELECT a.source, CAST(count(*) AS BIGINT) AS n_common
  FROM a JOIN b ON a.source = b.source AND a.doc_id = b.doc_id
  GROUP BY a.source
)
SELECT coalesce(na.source, nb.source) AS source,
       CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
       CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
       CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       CAST(CASE WHEN coalesce(n_common, 0) > 0
                 THEN (n_a * n_b) // n_common END AS BIGINT) AS est_size
FROM na FULL OUTER JOIN nb ON na.source = nb.source
LEFT JOIN m ON m.source = coalesce(na.source, nb.source)
"""


def q145_sitemap_coverage(spark, sf_dir):
    """Sitemap-vs-crawl coverage audit (sources/sitemaps.
    sitemap_coverage): per host, how much of the DECLARED url inventory
    was actually fetched (uncrawled = missed budget) and how many
    fetched urls the sitemap never listed (orphan/trap suspects).  One
    full-outer join on the (host, url) pair key + one map-side
    groupBy(host); permille by int64 floor division."""
    from eget_spark.sources.sitemaps import sitemap_coverage

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (d % 10).cast("string")).alias("host")
    url = F.concat(F.lit("http://ex.com/u"), d.cast("string")).alias("url")
    sitemap = docs.where(d % 4 != 1).select(host, url)
    crawled = docs.where(d % 3 != 0).select(host, url)
    return sitemap_coverage(sitemap, crawled)


_Q145_SQL = """
WITH s AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 10 AS VARCHAR) AS host,
         'http://ex.com/u' || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id % 4 <> 1
),
c AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 10 AS VARCHAR) AS host,
         'http://ex.com/u' || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id % 3 <> 0
),
j AS (
  SELECT coalesce(s.host, c.host) AS host,
         CASE WHEN s.url IS NOT NULL THEN 1 ELSE 0 END AS in_s,
         CASE WHEN c.url IS NOT NULL THEN 1 ELSE 0 END AS in_c
  FROM s FULL OUTER JOIN c ON s.host = c.host AND s.url = c.url
),
a AS (
  SELECT host,
         CAST(sum(in_s) AS BIGINT) AS n_sitemap,
         CAST(sum(in_c) AS BIGINT) AS n_crawled,
         CAST(sum(in_s * in_c) AS BIGINT) AS n_both
  FROM j GROUP BY host
)
SELECT host, n_sitemap, n_crawled, n_both,
       CAST(n_sitemap - n_both AS BIGINT) AS n_uncrawled,
       CAST(n_crawled - n_both AS BIGINT) AS n_orphan,
       CAST(CASE WHEN n_sitemap > 0 THEN (1000 * n_both) // n_sitemap END
         AS BIGINT) AS coverage_permille
FROM a
"""


def q146_link_reciprocity(spark, sf_dir):
    """Per-node reciprocal-link profile (operators/graph.
    link_reciprocity) — the link-exchange spam feature next to q138's
    TrustRank: over the distinct self-loop-free edge set, the permille
    of a node's out-links that are reciprocated.  One distinct
    compaction + one reversed-pair-key self left-semi join + one
    map-side groupBy; int64 only."""
    from eget_spark.operators.graph import link_reciprocity

    _, edges = _arith_edges(spark, sf_dir)
    out = link_reciprocity(edges)
    return out.select(
        F.col("id").alias("doc_id"), "n_out", "n_recip", "recip_permille"
    )


_Q146_SQL = f"""
WITH {_EDGES_SQL.lstrip()},
e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
r AS (
  SELECT e.src, CASE WHEN e2.src IS NOT NULL THEN 1 ELSE 0 END AS rcp
  FROM e LEFT JOIN e e2 ON e2.src = e.dst AND e2.dst = e.src
)
SELECT src AS doc_id,
       CAST(count(*) AS BIGINT) AS n_out,
       CAST(sum(rcp) AS BIGINT) AS n_recip,
       CAST((1000 * sum(rcp)) // count(*) AS BIGINT) AS recip_permille
FROM r GROUP BY src
"""


def q147_jaccard_histogram(spark, sf_dir):
    """Dedup-threshold calibration (operators/dedup.jaccard_histogram):
    the exact shingle-Jaccard distribution over all overlapping pairs,
    bucketed by integer floor division ((10*inter) div union — no float
    bucket edges, bucket 10 = exact dups) — the curve curation reads
    before committing q14/q15's near-dup threshold."""
    from eget_spark.operators.dedup import jaccard_histogram

    docs = _t(spark, sf_dir, "documents")
    return jaccard_histogram(docs, "doc_id", "text", k=3, buckets=10)


_Q147_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, g FROM (
    SELECT doc_id, unnest({_SHINGLE_SQL}) AS g FROM documents)
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
  GROUP BY 1, 2
),
p AS (
  SELECT (10 * i) // (na.n + nb.n - i) AS bucket
  FROM inter
  JOIN sizes na ON na.id = id_a
  JOIN sizes nb ON nb.id = id_b
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM p GROUP BY bucket
"""


def q148_ewma_rates(spark, sf_dir):
    """Adaptive crawl-rate smoothing (operators/anomaly.ewma_rates):
    per-host EWMA of hourly fetch counts over the DENSIFIED bucket range
    (quiet hours decay the estimate) — the smoother behind adaptive
    politeness re-tightening.  Fixed-point integer fold as a JVM
    higher-order aggregate (zero Python, zero window, no quiet-bucket
    explode); alpha = 3/10, counts in 1e-6 units."""
    from eget_spark.operators.anomaly import ewma_rates

    ev = _t(spark, sf_dir, "events").withColumn(
        "host", F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"))
    )
    out = ewma_rates(ev, "host", "ts")
    return out.select(F.col("key").alias("host"), "n_events", "ewma_fp")


_Q148_SQL = """
WITH ev AS (
  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
         epoch_us(ts) // 3600000000 AS b
  FROM events
),
cnt AS (SELECT host, b, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1, 2),
rng AS (SELECT min(b) AS lo, max(b) AS hi FROM cnt),
hosts AS (SELECT DISTINCT host FROM cnt),
dense AS (
  SELECT h.host, g.b, coalesce(c.n, 0) AS n
  FROM hosts h
  CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM rng),
                                            (SELECT hi FROM rng))) AS b) g
  LEFT JOIN cnt c ON c.host = h.host AND c.b = g.b
),
ser AS (
  SELECT host,
         CAST(sum(n) AS BIGINT) AS n_events,
         list(n * 1000000 ORDER BY b) AS xs
  FROM dense GROUP BY host
)
SELECT host, n_events,
       CAST(list_reduce(xs, (a, x) -> (3 * x + 7 * a) // 10) AS BIGINT)
         AS ewma_fp
FROM ser
"""


def q149_length_trim(spark, sf_dir):
    """Per-language length-outlier trimming — composition of q108's
    exact-rank quantiles (operators/quantiles.exact_quantiles): keep a
    doc iff its n_chars lies within its language's [p5, p95] (values at
    rank ceil(p*n), tie-pinned by doc_id — never an interpolation), the
    standard tail-cut before token-budget mixing.  The |langs|-row
    bounds table BROADCASTS back onto the corpus."""
    from fractions import Fraction

    from eget_spark.operators.quantiles import exact_quantiles

    docs = _t(spark, sf_dir, "documents")
    qs = exact_quantiles(
        docs, "lang", "n_chars", "doc_id",
        ps=(Fraction(1, 20), Fraction(19, 20)),
    )
    bounds = qs.select(
        F.col("key").alias("lang"),
        F.col("q_1_20").alias("_lo"),
        F.col("q_19_20").alias("_hi"),
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            (
                (F.col("n_chars") >= F.col("_lo"))
                & (F.col("n_chars") <= F.col("_hi"))
            ).alias("kept"),
        )
    )


_Q149_SQL = """
WITH r AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
q AS (
  SELECT lang,
         max(CASE WHEN rn = (n * 1 + 19) // 20 THEN n_chars END) AS lo,
         max(CASE WHEN rn = (n * 19 + 19) // 20 THEN n_chars END) AS hi
  FROM r GROUP BY lang
)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
       d.n_chars >= q.lo AND d.n_chars <= q.hi AS kept
FROM documents d JOIN q ON q.lang = d.lang
"""


# q150: model-based quality filter — the pinned demo vocabulary (1e-6
# fixed-point weights; positives are "contentful" tokens of the synthetic
# corpus, negatives are filler/stopwords, bias slightly negative so
# vocab-free docs are dropped).
_Q150_VOCAB = {
    "data": 400_000,
    "query": 350_000,
    "join": 300_000,
    "window": 250_000,
    "vector": 500_000,
    "stream": 200_000,
    "a": -150_000,
    "the": -150_000,
    "slow": -300_000,
}
_Q150_BIAS = -1_000_000


def q150_quality_classifier(spark, sf_dir):
    """Model-based quality filtering (operators/classifier.py — the
    CCNet/GPT-3-style linear bow classifier gate): every document scored
    with a broadcast (token -> int fixed-point weight) model, kept iff
    score_fp >= 0.  Explode -> broadcast vocab inner join -> one
    map-side-combined groupBy(doc); docs with no vocab hit restored by a
    left join onto the id spine (score = bias)."""
    from eget_spark.operators.classifier import linear_text_scores

    out = linear_text_scores(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        _Q150_VOCAB,
        bias_fp=_Q150_BIAS,
    )
    return out.select(F.col("id").alias("doc_id"), "n_hits", "score_fp", "kept")


def _q150_sql() -> str:
    from eget_spark.operators.classifier import classifier_oracle_sql

    sql = classifier_oracle_sql(
        "documents", "doc_id", "text", _Q150_VOCAB, bias_fp=_Q150_BIAS
    )
    return (
        f"SELECT id AS doc_id, n_hits, score_fp, kept FROM ({sql})"
    )


def q151_surt_keys(spark, sf_dir):
    """SURT-form canonical URL keys (functions/urls.surt_key — the
    IIPC/Heritrix CDX index key: reversed-host, lowercased, query-param
    sorted).  Range-sorting on this key makes a site (and its
    subdomains) contiguous — the clustering key a 100-TB crawl store
    sorts its Iceberg files by.  Pure zero-shuffle column algebra; the
    oracle recomputes the transform independently with DuckDB list
    functions."""
    from eget_spark.functions.urls import surt_key

    d = F.col("doc_id")
    qpart = (
        F.when(d % 3 == 1, F.lit("?b=2&a=1"))
        .when(d % 3 == 2, F.lit("?z=9"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 2 == 1, F.lit("#Frag")).otherwise(F.lit(""))
    url = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".Example.COM/A/"),
        d.cast("string"),
        qpart,
        frag,
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url"), surt_key(url).alias("surt")
    )


_Q151_SQL = r"""
WITH urls AS (
  SELECT doc_id,
         'https://www.' || source || '.Example.COM/A/'
           || CAST(doc_id AS VARCHAR)
           || CASE doc_id % 3 WHEN 1 THEN '?b=2&a=1'
                              WHEN 2 THEN '?z=9' ELSE '' END
           || CASE WHEN doc_id % 2 = 1 THEN '#Frag' ELSE '' END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
         regexp_replace(
           lower(regexp_extract(lower(url),
                 '^[a-z][a-z0-9+.\-]*://([^/?#]+)', 1)),
           '^www\.', '') AS host,
         regexp_extract(lower(url),
                 '^[a-z][a-z0-9+.\-]*://[^/?#]+([^?#]*)', 1) AS path,
         regexp_extract(lower(url), '\?([^#]*)', 1) AS qry
  FROM urls
)
SELECT doc_id, url,
       array_to_string(list_reverse(string_split(host, '.')), ',')
       || ')'
       || CASE WHEN path = '' THEN '/' ELSE path END
       || CASE WHEN len(list_filter(string_split(qry, '&'), p -> p <> '')) > 0
               THEN '?' || array_to_string(
                      list_sort(list_filter(string_split(qry, '&'),
                                            p -> p <> '')), '&')
               ELSE '' END AS surt
FROM parts
"""


def q152_param_relevance(spark, sf_dir):
    """Irrelevant-URL-parameter detection (operators/url_params.py —
    which query params never change the fetched content, the
    strip-at-admission signal real crawlers learn).  Synthetic evidence:
    URLs carry ``page`` (content-bearing) and ``sess`` (session id)
    params; the fingerprint depends on (base, page) only, so ``sess``
    must come out 1000-permille irrelevant and ``page`` 0."""
    from eget_spark.operators.url_params import param_relevance

    d = F.col("doc_id")
    base = F.concat(F.lit("https://s.test/p/"), (d % 7).cast("string"))
    url = F.concat(
        base,
        F.lit("?page="),
        (d % 3).cast("string"),
        F.lit("&sess="),
        (d % 5).cast("string"),
    )
    fp = F.concat(
        F.lit("f"), (d % 7).cast("string"), F.lit("_"), (d % 3).cast("string")
    )
    rows = _t(spark, sf_dir, "documents").select(
        url.alias("url"), fp.alias("fp")
    )
    return param_relevance(rows, "url", "fp")


def _q152_sql() -> str:
    from eget_spark.operators.url_params import PARAM_RELEVANCE_ORACLE_SQL

    src = (
        "(SELECT 'https://s.test/p/' || CAST(doc_id % 7 AS VARCHAR)"
        " || '?page=' || CAST(doc_id % 3 AS VARCHAR)"
        " || '&sess=' || CAST(doc_id % 5 AS VARCHAR) AS url,"
        " 'f' || CAST(doc_id % 7 AS VARCHAR) || '_'"
        " || CAST(doc_id % 3 AS VARCHAR) AS fp FROM documents)"
    )
    return PARAM_RELEVANCE_ORACLE_SQL.format(src=src)


def q153_fetch_fairness(spark, sf_dir):
    """Crawl-equity Gini (operators/fairness.py): one integer-exact
    concentration number over the per-host fetch-count distribution —
    the drift alarm between crawl rounds (rising Gini = politeness /
    trap throttles failing).  Compacts to |hosts| rows first; the exact
    global rank reuses with_global_seq (partitioned window + broadcast
    prefix offsets, never SinglePartition)."""
    from eget_spark.operators.fairness import fairness_gini

    ev = _t(spark, sf_dir, "events").withColumn(
        "host", F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string"))
    )
    return fairness_gini(ev, "host")


def _q153_sql() -> str:
    from eget_spark.operators.fairness import FAIRNESS_GINI_ORACLE_SQL

    return FAIRNESS_GINI_ORACLE_SQL.format(
        src="(SELECT 'h' || CAST(user_id % 50 AS VARCHAR) AS host"
        " FROM events)",
        key="host",
    )


def q154_scalar_quantize(spark, sf_dir):
    """Int8 scalar quantization of embeddings (operators/squant.py —
    the FAISS ScalarQuantizer-style training-free compression tier:
    per-vector max-abs scale + 127-level codes + integer reconstruction
    error).  ONE zero-shuffle codegen'd projection; every code and the
    error are bit-exact vs the oracle's list-function replay."""
    from eget_spark.operators.squant import scalar_quantize

    out = scalar_quantize(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )
    return out.select(
        F.col("id").alias("vec_id"),
        "scale_fp",
        F.array_join("codes", ",").alias("codes_csv"),
        "recon_err_fp2",
    )


def _q154_sql() -> str:
    from eget_spark.operators.squant import SCALAR_QUANTIZE_ORACLE_SQL

    sql = SCALAR_QUANTIZE_ORACLE_SQL.format(
        src="embeddings", id="vec_id", vec="embedding"
    )
    return (
        "SELECT id AS vec_id, scale_fp,"
        " array_to_string(codes, ',') AS codes_csv, recon_err_fp2"
        f" FROM ({sql})"
    )


def q155_media_density(spark, sf_dir):
    """Media-density gating over the interleaved span payload: per doc,
    media (image/video) vs text (heading/paragraph) span counts from
    higher-order span filters (functions/spans.span_kind_counts), the
    classic multimodal-pipeline rule ``kept iff media spans <= text
    spans`` (density <= 500 permille).  Zero shuffle, zero Python."""
    from eget_spark.functions.spans import span_kind_counts

    docs = _t(spark, sf_dir, "documents")
    mk = lambda kind, off: F.struct(
        F.lit(kind).alias("kind"),
        F.lit("t").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    n_img = (F.col("doc_id") % 4).cast("int")
    n_par = (F.col("doc_id") % 3).cast("int")
    spans = F.concat(
        F.array(mk("heading", 0)),
        F.slice(
            F.array(mk("paragraph", 1), mk("paragraph", 2)),
            F.lit(1),
            n_par,
        ),
        F.slice(
            F.array(mk("image", 3), mk("image", 4), mk("image", 5)),
            F.lit(1),
            n_img,
        ),
        F.when(
            F.col("doc_id") % 5 == 0, F.array(mk("video", 6))
        ).otherwise(F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        )),
    )
    n_media = (
        span_kind_counts(spans, "image") + span_kind_counts(spans, "video")
    ).cast("long")
    n_text = (
        span_kind_counts(spans, "heading")
        + span_kind_counts(spans, "paragraph")
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            n_media.alias("n_media"),
            n_text.alias("n_text"),
        )
        .withColumn(
            "density_permille",
            F.expr("1000 * n_media div (n_media + n_text)").cast("long"),
        )
        .withColumn("kept", F.col("n_media") <= F.col("n_text"))
    )


_Q155_SQL = """
WITH s AS (
  SELECT doc_id,
         CAST(doc_id % 4 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
              AS BIGINT) AS n_media,
         CAST(1 + doc_id % 3 AS BIGINT) AS n_text
  FROM documents
)
SELECT doc_id, n_media, n_text,
       CAST(1000 * n_media // (n_media + n_text) AS BIGINT)
         AS density_permille,
       n_media <= n_text AS kept
FROM s
"""


# q156-q157 share a deterministic interleaved span generator (text+media
# alternating — the OBELICS-style multimodal document shape): optional
# lead image (doc_id%4==1), heading, then k = 1+doc_id%3 of
# (paragraph_i, image_i) pairs, optional trailing video (doc_id%5==0).
# Offsets are the dense array position (renumbered JVM-side).
def _interleaved_spans(d):
    ds = d.cast("string")
    k = (d % 3 + 1).cast("int")

    def st(kind, text, ref):
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            ref.alias("media_ref"),
            F.lit(0).alias("offset"),
        )

    empty = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    lead = F.when(
        d % 4 == 1,
        F.array(
            st(F.lit("image"), F.lit(""), F.concat(F.lit("m"), ds, F.lit("_lead")))
        ),
    ).otherwise(empty)
    head = F.array(
        st(F.lit("heading"), F.concat(F.lit("h"), ds), F.lit(""))
    )
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array(
                st(
                    F.lit("paragraph"),
                    F.concat(F.lit("p"), ds, F.lit("_"), i.cast("string")),
                    F.lit(""),
                ),
                st(
                    F.lit("image"),
                    F.lit(""),
                    F.concat(F.lit("m"), ds, F.lit("_"), i.cast("string")),
                ),
            ),
        )
    )
    vid = F.when(
        d % 5 == 0,
        F.array(st(F.lit("video"), F.lit(""), F.concat(F.lit("v"), ds))),
    ).otherwise(empty)
    arr = F.concat(lead, head, pairs, vid)
    return F.transform(
        arr,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


# the oracle-side row generator for the same spans (media rows only),
# shared by q156/q158: per doc, images m{d}_i (i<k), optional lead image
# m{d}_lead, optional trailing video v{d}; L = 1 if the lead is present.
_MEDIA_ROWS_SQL = """
base AS (
  SELECT doc_id AS d, CAST(1 + doc_id % 3 AS BIGINT) AS k,
         CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS L
  FROM documents
),
media_rows AS (
  SELECT d AS id, 'm' || CAST(d AS VARCHAR) || '_' || CAST(i AS VARCHAR)
           AS media_ref,
         'image' AS media_kind, CAST(L + 2 + 2*i AS BIGINT) AS offset,
         'p' || CAST(d AS VARCHAR) || '_' || CAST(i AS VARCHAR)
           AS caption_before,
         CASE WHEN i < k - 1
              THEN 'p' || CAST(d AS VARCHAR) || '_' || CAST(i + 1 AS VARCHAR)
         END AS caption_after
  FROM base, UNNEST(range(k)) AS t(i)
  UNION ALL
  SELECT d, 'm' || CAST(d AS VARCHAR) || '_lead', 'image', CAST(0 AS BIGINT),
         CAST(NULL AS VARCHAR), 'h' || CAST(d AS VARCHAR)
  FROM base WHERE L = 1
  UNION ALL
  SELECT d, 'v' || CAST(d AS VARCHAR), 'video', CAST(L + 1 + 2*k AS BIGINT),
         'p' || CAST(d AS VARCHAR) || '_' || CAST(k - 1 AS VARCHAR),
         CAST(NULL AS VARCHAR)
  FROM base WHERE d % 5 = 0
)
"""


def q156_caption_pairs(spark, sf_dir):
    """Image-caption pair mining over interleaved spans
    (operators/captions.caption_pairs — the LAION/OBELICS pairing step):
    every media span gets the nearest preceding and following text span
    in its document via two ignorenulls windows partitioned by doc (no
    skew: spans are page-bounded), caption = before else after.  One
    posexplode + one doc-hash shuffle, zero Python."""
    from eget_spark.operators.captions import caption_pairs

    docs = _t(spark, sf_dir, "documents")
    with_spans = docs.select(
        "doc_id", _interleaved_spans(F.col("doc_id")).alias("spans")
    )
    return caption_pairs(with_spans, "doc_id", "spans").withColumnRenamed(
        "id", "doc_id"
    )


_Q156_SQL = f"""
WITH {_MEDIA_ROWS_SQL.strip().lstrip()}
SELECT id AS doc_id, media_ref, media_kind, "offset",
       caption_before, caption_after,
       COALESCE(caption_before, caption_after) AS caption
FROM media_rows
"""


def q157_renumber_spans(spark, sf_dir):
    """Modality projection with offset re-keying
    (functions/spans.renumber_spans): dropping image/video spans for a
    text-only export renumbers offsets to the dense 0-based index —
    required by span assembly (X7) and chunk positions (O4).  Pure
    per-row higher-order SQL: zero exchanges, zero Python."""
    from eget_spark.functions.spans import renumber_spans

    docs = _t(spark, sf_dir, "documents")
    spans = _interleaved_spans(F.col("doc_id"))
    kept = renumber_spans(spans, ("image", "video"))
    return docs.select(
        "doc_id",
        F.size(spans).cast("long").alias("n_before"),
        F.size(kept).cast("long").alias("n_after"),
        F.array_join(
            F.transform(kept, lambda s: s["kind"]), ","
        ).alias("kinds_sig"),
        F.array_join(
            F.transform(kept, lambda s: s["text"]), ","
        ).alias("texts_sig"),
        F.array_join(
            F.transform(kept, lambda s: s["offset"].cast("string")), ","
        ).alias("offsets_sig"),
    )


_Q157_SQL = """
WITH base AS (
  SELECT doc_id AS d, CAST(1 + doc_id % 3 AS BIGINT) AS k,
         CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS L,
         CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS V
  FROM documents
)
SELECT d AS doc_id,
       CAST(1 + 2*k + L + V AS BIGINT) AS n_before,
       CAST(1 + k AS BIGINT) AS n_after,
       'heading' || repeat(',paragraph', CAST(k AS INTEGER)) AS kinds_sig,
       'h' || CAST(d AS VARCHAR) || ',' || array_to_string(
         list_transform(range(k),
           i -> 'p' || CAST(d AS VARCHAR) || '_' || CAST(i AS VARCHAR)), ',')
         AS texts_sig,
       array_to_string(
         list_transform(range(k + 1), i -> CAST(i AS VARCHAR)), ',')
         AS offsets_sig
FROM base
"""


def q158_media_audit(spark, sf_dir):
    """Media-ref referential-integrity audit (operators/media_refs.
    media_audit): two-sided LEFT ANTI join between span media refs and a
    synthetic blob store — docs with doc_id%7==0 lost their image blobs
    (dangling refs), videos persisted only for even docs, and docs with
    doc_id%11==0 carry a stale blob no span references (orphan / GC
    candidate).  Shuffle anti-joins on the ref hash (neither side
    broadcast at 100 TB; AQE may), map-side rollup per bucket."""
    from eget_spark.operators.captions import caption_pairs
    from eget_spark.operators.media_refs import media_audit

    docs = _t(spark, sf_dir, "documents")
    with_spans = docs.select(
        "doc_id", _interleaved_spans(F.col("doc_id")).alias("spans")
    )
    refs = caption_pairs(with_spans, "doc_id", "spans").select(
        "id", "media_ref"
    )
    d = F.col("doc_id")
    k = (d % 3 + 1).cast("int")
    ds = d.cast("string")
    img_blobs = F.when(
        d % 7 != 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat(F.lit("m"), ds, F.lit("_"), i.cast("string")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    vid_blob = F.when(
        (d % 5 == 0) & (d % 2 == 0), F.array(F.concat(F.lit("v"), ds))
    ).otherwise(F.array().cast("array<string>"))
    stale = F.when(
        d % 11 == 0, F.array(F.concat(F.lit("x"), ds))
    ).otherwise(F.array().cast("array<string>"))
    blobs = docs.select(
        (d % 10).cast("long").alias("bucket"),
        F.explode(F.concat(img_blobs, vid_blob, stale)).alias("media_ref"),
    )
    return media_audit(
        refs, blobs, (F.col("id") % 10).cast("long")
    ).withColumnRenamed("bucket", "bucket_id")


_Q158_SQL = f"""
WITH {_MEDIA_ROWS_SQL.strip().lstrip()},
refs AS (
  SELECT DISTINCT CAST(id % 10 AS BIGINT) AS bucket, media_ref AS ref
  FROM media_rows
),
blobs AS (
  SELECT DISTINCT CAST(d % 10 AS BIGINT) AS bucket, ref FROM (
    SELECT d, 'm' || CAST(d AS VARCHAR) || '_' || CAST(i AS VARCHAR) AS ref
    FROM base, UNNEST(range(k)) AS t(i) WHERE d % 7 <> 0
    UNION ALL
    SELECT d, 'v' || CAST(d AS VARCHAR) FROM base
    WHERE d % 5 = 0 AND d % 2 = 0
    UNION ALL
    SELECT d, 'x' || CAST(d AS VARCHAR) FROM base WHERE d % 11 = 0
  )
),
dang AS (
  SELECT r.bucket, count(*) AS n_dangling FROM refs r
  WHERE NOT EXISTS (SELECT 1 FROM blobs b WHERE b.ref = r.ref)
  GROUP BY r.bucket
),
orph AS (
  SELECT b.bucket, count(*) AS n_orphans FROM blobs b
  WHERE NOT EXISTS (SELECT 1 FROM refs r WHERE r.ref = b.ref)
  GROUP BY b.bucket
),
per_ref AS (SELECT bucket, count(*) AS n_refs FROM refs GROUP BY bucket)
-- FULL join onto orphans (mirroring media_refs.media_audit): a bucket
-- holding only orphan blobs (zero refs) must still report; NOT EXISTS
-- (not NOT IN) so a NULL ref can never empty the audit
SELECT COALESCE(p.bucket, o.bucket) AS bucket_id,
       CAST(COALESCE(p.n_refs, 0) AS BIGINT) AS n_refs,
       CAST(COALESCE(d.n_dangling, 0) AS BIGINT) AS n_dangling,
       CAST(COALESCE(o.n_orphans, 0) AS BIGINT) AS n_orphans
FROM per_ref p LEFT JOIN dang d ON d.bucket = p.bucket
FULL JOIN orph o ON o.bucket = p.bucket
"""


def q159_makespan(spark, sf_dir):
    """Politeness-bound crawl makespan estimator (operators/politeness.
    makespan_bound — Graham's two-sided LPT lower bound): hosts fetch
    serially under crawl-delay, the cluster finishes no earlier than
    max(longest host span, total work / workers).  One map-side-combined
    host rollup + one scalar aggregate; answers 'is this crawl host-skew
    bound or capacity bound?'.  All int64."""
    from eget_spark.operators.politeness import makespan_bound

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.groupBy(
        (F.col("doc_id") % 23).cast("long").alias("host_id")
    ).agg(F.count("*").cast("long").alias("n_pages"))
    hosts = hosts.withColumn(
        "delay_ms", (100 * (F.col("host_id") % 5 + 1)).cast("long")
    )
    return makespan_bound(hosts, workers=32)


_Q159_SQL = """
WITH hosts AS (
  SELECT CAST(doc_id % 23 AS BIGINT) AS host_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(100 * (doc_id % 23 % 5 + 1) AS BIGINT) AS delay_ms
  FROM documents GROUP BY doc_id % 23
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hosts,
         CAST(sum(n * 50) AS BIGINT) AS total_fetch_ms,
         CAST(max(n * 50 + (n - 1) * delay_ms) AS BIGINT)
           AS max_host_span_ms
  FROM hosts
)
SELECT n_hosts, total_fetch_ms, max_host_span_ms,
       CAST((total_fetch_ms + 31) // 32 AS BIGINT) AS capacity_ms,
       CAST(greatest(max_host_span_ms, (total_fetch_ms + 31) // 32)
         AS BIGINT) AS makespan_lb_ms,
       max_host_span_ms > (total_fetch_ms + 31) // 32 AS skew_bound
FROM agg
"""


def q160_cache_ttl(spark, sf_dir):
    """RFC 9111 freshness derivation (functions/headers.cache_ttl_seconds
    — the header-driven form of the reference's fixed cache TTL,
    cache_service get/set expiry): no-store/no-cache -> 0, first
    max-age=N wins, else Expires-Date clamped at 0, else NULL.  Pure
    regexp+arithmetic column algebra, zero shuffle, zero Python."""
    from eget_spark.functions.headers import cache_ttl_seconds

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    cc = (
        F.when(d % 5 == 0, F.lit("no-store"))
        .when(d % 5 == 1, F.lit("public, max-age=300"))
        .when(
            d % 5 == 2,
            F.concat(F.lit("max-age="), ((d % 7) * 60).cast("string")),
        )
        .when(d % 5 == 3, F.lit("private, no-cache"))
        .otherwise(F.lit(""))
    )
    expires = F.when(d % 3 != 0, F.lit(1_000_000) + (d % 100) * 30 - 600)
    date = F.when(d % 3 != 0, F.lit(1_000_000).cast("long"))
    return docs.select(
        "doc_id",
        cc.alias("cache_control"),
        cache_ttl_seconds(cc, expires, date).alias("ttl_s"),
    )


_Q160_SQL = """
WITH h AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'no-store'
           WHEN 1 THEN 'public, max-age=300'
           WHEN 2 THEN 'max-age=' || CAST(doc_id % 7 * 60 AS VARCHAR)
           WHEN 3 THEN 'private, no-cache'
           ELSE ''
         END AS cache_control,
         CASE WHEN doc_id % 3 <> 0
              THEN 1000000 + doc_id % 100 * 30 - 600 END AS expires,
         CASE WHEN doc_id % 3 <> 0 THEN 1000000 END AS dt
  FROM documents
)
SELECT doc_id, cache_control,
       CAST(CASE
         WHEN cache_control LIKE '%no-store%'
           OR cache_control LIKE '%no-cache%' THEN 0
         WHEN TRY_CAST(regexp_extract(cache_control,
                '(^|[,\\s])max-age=([0-9]+)', 2) AS BIGINT) IS NOT NULL
           THEN TRY_CAST(regexp_extract(cache_control,
                '(^|[,\\s])max-age=([0-9]+)', 2) AS BIGINT)
         WHEN expires IS NOT NULL AND dt IS NOT NULL
           THEN greatest(0, expires - dt)
       END AS BIGINT) AS ttl_s
FROM h
"""


def q161_retry_backoff(spark, sf_dir):
    """Politeness backoff ladder (functions/headers.backoff_ms — RFC 9110
    Retry-After first, else capped binary exponential min(cap, base <<
    attempt)): the per-host next-fetch delay after failures, feeding the
    circuit breaker (q131) and adaptive delays.  Branch-free int64
    column algebra, zero shuffle, zero Python."""
    from eget_spark.functions.headers import backoff_ms, retry_after_seconds

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    attempt = (d % 9).cast("int")
    hdr = (
        F.when(d % 4 == 0, (30 + d % 60).cast("string"))
        .when(d % 4 == 1, F.lit(""))
        .when(d % 4 == 2, F.lit("Fri, 01 Jan 2027 00:00:00 GMT"))
        .otherwise(F.lit(None).cast("string"))
    )
    ra = retry_after_seconds(hdr)
    return docs.select(
        "doc_id",
        attempt.cast("long").alias("attempt"),
        ra.alias("retry_after_s"),
        backoff_ms(attempt, ra, base_ms=500, cap_ms=60_000).alias(
            "backoff_ms"
        ),
    )


_Q161_SQL = """
WITH h AS (
  SELECT doc_id, CAST(doc_id % 9 AS BIGINT) AS attempt,
         CASE doc_id % 4
           WHEN 0 THEN CAST(30 + doc_id % 60 AS VARCHAR)
           WHEN 1 THEN ''
           WHEN 2 THEN 'Fri, 01 Jan 2027 00:00:00 GMT'
         END AS hdr
  FROM documents
),
p AS (
  SELECT doc_id, attempt,
         CASE WHEN regexp_full_match(trim(COALESCE(hdr, '')), '[0-9]+')
              THEN TRY_CAST(trim(hdr) AS BIGINT) END AS retry_after_s
  FROM h
)
SELECT doc_id, attempt, retry_after_s,
       CAST(COALESCE(retry_after_s * 1000,
                     least(60000, 500 * (1 << attempt))) AS BIGINT)
         AS backoff_ms
FROM p
"""


def q162_table_cells(spark, sf_dir):
    """Table-corpus mining (operators/table_mining.extract_table_cells —
    the WebTables/TaBERT extraction step): every table span explodes to
    position-addressed (table_idx, row_idx, col_idx, cell) long rows via
    three chained posexplode generators in ONE stage — zero shuffles,
    zero Python, no window.  Docs with doc_id%3==0 carry 1+doc_id%2
    tables of (1+doc_id%4) x 3 cells."""
    from eget_spark.operators.table_mining import extract_table_cells

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    n_tables = F.when(d % 3 == 0, (d % 2 + 1).cast("int")).otherwise(
        F.lit(0)
    )
    n_rows = (d % 4 + 1).cast("int")
    table_text = lambda t: F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_rows - 1),
            lambda r: F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(2)),
                    lambda c: F.concat(
                        F.lit("c"), ds, F.lit("_"), t.cast("string"),
                        F.lit("_"), r.cast("string"), F.lit("_"),
                        c.cast("string"),
                    ),
                ),
                "\t",
            ),
        ),
        "\n",
    )
    spans = F.transform(
        F.sequence(F.lit(0), n_tables - 1),
        lambda t: F.struct(
            F.lit("table").alias("kind"),
            table_text(t).alias("text"),
            F.lit("").alias("media_ref"),
            t.cast("int").alias("offset"),
        ),
    )
    with_spans = docs.select("doc_id", spans.alias("spans")).filter(
        n_tables > 0
    )
    return extract_table_cells(with_spans, "doc_id", "spans").select(
        F.col("id").alias("doc_id"), "table_idx", "row_idx", "col_idx",
        "cell",
    )


_Q162_SQL = """
WITH base AS (
  SELECT doc_id AS d, CAST(doc_id % 2 + 1 AS BIGINT) AS n_tables,
         CAST(doc_id % 4 + 1 AS BIGINT) AS n_rows
  FROM documents WHERE doc_id % 3 = 0
)
SELECT d AS doc_id, t AS table_idx, r AS row_idx, c AS col_idx,
       'c' || CAST(d AS VARCHAR) || '_' || CAST(t AS VARCHAR) || '_'
           || CAST(r AS VARCHAR) || '_' || CAST(c AS VARCHAR) AS cell
FROM base,
     UNNEST(range(n_tables)) AS tt(t),
     UNNEST(range(n_rows)) AS rr(r),
     UNNEST(range(3)) AS cc(c)
"""


def q163_mixture_weights(spark, sf_dir):
    """Domain-mixture importance reweighting (operators/sampling.
    mixture_weights — the DoReMi/Pile mixture-planning step): observed
    per-language token share vs a target plan, downsample weight =
    min(1e6, target_ppm * 1e6 div corpus_ppm) in exact int64 ppm
    arithmetic.  One map-side groupBy; the corpus total rides a 1-row
    broadcast."""
    from eget_spark.operators.sampling import mixture_weights

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.expr("n_chars div 5").cast("long")
    )
    out = mixture_weights(
        docs, "lang", "n_tokens",
        {"en": 500_000, "de": 200_000, "fr": 150_000},
    )
    return out.withColumnRenamed("grp", "lang")


_Q163_SQL = """
WITH per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars // 5) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
s AS (
  SELECT lang, n_docs, n_tokens,
         CAST((n_tokens // greatest(1, total // 8796093022208)) * 1000000
              // (total // greatest(1, total // 8796093022208))
           AS BIGINT) AS corpus_ppm,
         CAST(CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 200000
              WHEN 'fr' THEN 150000 ELSE 0 END AS BIGINT) AS target_ppm
  FROM per, tot
),
w AS (
  SELECT *, CAST(least(1000000,
            target_ppm * 1000000 // greatest(corpus_ppm, 1)) AS BIGINT)
         AS weight_ppm
  FROM s
)
SELECT lang, n_docs, n_tokens, corpus_ppm, target_ppm, weight_ppm,
       CAST((n_tokens // 1000000) * weight_ppm
            + (n_tokens % 1000000) * weight_ppm // 1000000
         AS BIGINT) AS sampled_tokens_est
FROM w
"""


def q164_token_windows(spark, sf_dir):
    """LM-context windowing (operators/chunker.token_windows): fixed
    16-token windows, stride 12 (overlapping contexts) — the positional
    third chunker next to semantic (q22) and sentence (q23).  Pure JVM
    array algebra: one posexplode generator stage, no window function,
    zero shuffle beyond the scan, zero Python."""
    from eget_spark.operators.chunker import token_windows

    docs = _t(spark, sf_dir, "documents")
    return token_windows(docs, "doc_id", "text", window=16, stride=12)\
        .withColumnRenamed("id", "doc_id")


_Q164_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
w AS (
  SELECT doc_id, toks,
         CAST(1 + greatest(0, (len(toks) - 16 + 12 - 1) // 12)
           AS BIGINT) AS n_win
  FROM t
)
SELECT doc_id, CAST(i AS BIGINT) AS win_idx,
       CAST(len(toks[i*12 + 1 : i*12 + 16]) AS BIGINT) AS n_win_tokens,
       array_to_string(toks[i*12 + 1 : i*12 + 16], ' ') AS win_text
FROM w, UNNEST(range(n_win)) AS u(i)
"""


def q165_keywords(spark, sf_dir):
    """Per-doc keyword extraction (operators/search.keyword_extract):
    top-3 terms by integer tf x idf_fp = N*1e6 div df (no ln — the
    allpairs bit-stability discipline), ties (score desc, term asc).
    Map-side tf/df rollups, term-keyed join, WindowGroupLimit top-k."""
    from eget_spark.operators.search import keyword_extract

    docs = _t(spark, sf_dir, "documents")
    return keyword_extract(docs, "doc_id", "text", top_k=3)\
        .withColumnRenamed("id", "doc_id")


_Q165_SQL = f"""
WITH words AS (
  SELECT doc_id, u.term FROM (
    SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
  ), UNNEST(toks) AS u(term)
  WHERE u.term <> ''
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         CAST(n.nd * 1000000 // dfreq.df AS BIGINT) AS idf_fp
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT doc_id, term, tf, idf_fp,
         CAST(tf * idf_fp AS BIGINT) AS score_fp,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY tf * idf_fp DESC, term ASC
         ) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, idf_fp, score_fp
FROM ranked WHERE rank <= 3
"""


def q166_indexability(spark, sf_dir):
    """Composite indexability verdict — the 'does this page enter the
    training set?' gate real pipelines apply after fetch: HTTP status,
    meta-robots/X-Robots-Tag consent (functions/metadata.
    robots_directives — the q129 operator, real regexp parse over
    synthesized HTML), and rel=canonical-elsewhere, with pinned reason
    precedence http_error > noindex > canonical_elsewhere > ok.
    Zero-shuffle regexp/CASE algebra."""
    from eget_spark.functions.metadata import robots_directives

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head>"),
        F.when(
            d % 13 == 0,
            F.lit('<meta name="robots" content="noindex, archive">'),
        )
        .when(d % 13 == 1, F.lit("<meta content='none' name='robots'>"))
        .otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    hdr = F.when(d % 19 == 0, F.lit("NOINDEX")).otherwise(F.lit(""))
    status = F.when(d % 17 == 0, F.lit(404)).otherwise(F.lit(200)).cast(
        "long"
    )
    canon_other = (d % 9 == 0) & (d % 13 > 1)
    noindex, _nofollow = robots_directives(html, hdr)
    reason = (
        F.when(status != 200, F.lit("http_error"))
        .when(noindex, F.lit("noindex"))
        .when(canon_other, F.lit("canonical_elsewhere"))
        .otherwise(F.lit("ok"))
    )
    return docs.select(
        "doc_id",
        status.alias("status"),
        noindex.alias("noindex"),
        canon_other.alias("canonical_elsewhere"),
        (reason == "ok").alias("indexable"),
        reason.alias("reason"),
    )


_Q166_SQL = r"""
WITH base AS (
  SELECT doc_id,
         '<html><head>' ||
         CASE doc_id % 13
           WHEN 0 THEN '<meta name="robots" content="noindex, archive">'
           WHEN 1 THEN '<meta content=''none'' name=''robots''>'
           ELSE ''
         END || '</head><body>x</body></html>' AS html,
         CASE WHEN doc_id % 19 = 0 THEN 'NOINDEX' ELSE '' END AS hdr,
         CAST(CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS BIGINT)
           AS status,
         doc_id % 9 = 0 AND doc_id % 13 > 1 AS canon_other
  FROM documents
),
d AS (
  SELECT *,
         regexp_split_to_array(
           lower(COALESCE(
             nullif(regexp_extract(html,
               '<meta\s[^>]*name\s*=\s*"robots"[^>]*content\s*=\s*"([^"]*)"',
               1, 'i'), ''),
             nullif(regexp_extract(html,
               '<meta\s[^>]*name\s*=\s*''robots''[^>]*content\s*=\s*''([^'']*)''',
               1, 'i'), ''),
             nullif(regexp_extract(html,
               '<meta\s[^>]*content\s*=\s*"([^"]*)"[^>]*name\s*=\s*"robots"',
               1, 'i'), ''),
             nullif(regexp_extract(html,
               '<meta\s[^>]*content\s*=\s*''([^'']*)''[^>]*name\s*=\s*''robots''',
               1, 'i'), ''),
             ''))
           || ',' || lower(hdr), '[,\s]+') AS toks
  FROM base
),
v AS (
  SELECT doc_id, status,
         list_has_any(toks, ['noindex', 'none']) AS noindex,
         canon_other
  FROM d
)
SELECT doc_id, status, noindex, canon_other AS canonical_elsewhere,
       status = 200 AND NOT noindex AND NOT canon_other AS indexable,
       CASE WHEN status <> 200 THEN 'http_error'
            WHEN noindex THEN 'noindex'
            WHEN canon_other THEN 'canonical_elsewhere'
            ELSE 'ok' END AS reason
FROM v
"""


def q167_embedding_outliers(spark, sf_dir):
    """Per-cluster embedding-outlier trim (operators/kmeans.
    cluster_outliers — the CLIP-filtering curation step): q78's trained
    cells + exact p95 distance cutoff per cell (rank-arithmetic, q108
    discipline), outlier iff dist > cutoff.  One window shuffle on
    cluster; the k-row cutoff table broadcasts back."""
    from eget_spark.operators.kmeans import cluster_outliers, kmeans_fp

    assign = kmeans_fp(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=4,
        n_iter=2,
    )
    return cluster_outliers(assign, 19, 20).withColumnRenamed(
        "id", "vec_id"
    )


def _q167_sql() -> str:
    from eget_spark.operators.kmeans import kmeans_oracle_sql

    base = kmeans_oracle_sql("embeddings", "vec_id", "embedding", k=4, n_iter=2)
    return f"""
WITH a AS ({base}),
r AS (
  SELECT id, cluster, dist_fp,
         row_number() OVER (
           PARTITION BY cluster ORDER BY dist_fp, id) AS rn,
         count(*) OVER (PARTITION BY cluster) AS n
  FROM a
),
c AS (
  SELECT cluster,
         max(CASE WHEN rn = (n * 19 + 19) // 20 THEN dist_fp END)
           AS cutoff_fp
  FROM r GROUP BY cluster
)
SELECT r.id AS vec_id, r.cluster, r.dist_fp, c.cutoff_fp,
       r.dist_fp > c.cutoff_fp AS outlier
FROM r JOIN c USING (cluster)
"""


def q168_multimodal_packing(spark, sf_dir):
    """Two-resource next-fit packing for interleaved multimodal docs
    (operators/packing.pack_sequences_2d): sequences bounded on BOTH the
    token context (256) and the image-slot budget (4 — the vision
    encoder's tiles-per-sequence cap); a doc opens a new sequence when
    EITHER axis would overflow.  Sharded md5-ordered fold per shard (one
    applyInPandas, O(1) state), the q83 determinism contract in 2-D."""
    from eget_spark.operators.packing import pack_sequences_2d

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("n_chars div 5").cast("long").alias("n_tokens"),
        (F.col("doc_id") % 4).cast("long").alias("n_images"),
    )
    return pack_sequences_2d(
        docs, "doc_id", "n_tokens", "n_images",
        cap_tokens=256, cap_images=4, n_shards=8, seed="pk2",
    )


_Q168_SQL = r"""
WITH RECURSIVE d AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(n_chars // 5 AS BIGINT) AS n_tokens,
         CAST(doc_id % 4 AS BIGINT) AS n_images
  FROM documents
),
o AS (
  SELECT doc_id, shard, n_tokens, n_images,
         row_number() OVER (
           PARTITION BY shard
           ORDER BY md5('pk2' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM d
),
s AS (
  SELECT doc_id, shard, n_tokens, n_images, rn,
         CAST(0 AS BIGINT) AS seq_no,
         CAST(0 AS BIGINT) AS tok_offset,
         CAST(0 AS BIGINT) AS img_offset,
         n_tokens AS ft, n_images AS fi
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.n_tokens, o.n_images, o.rn,
         CASE WHEN s.ft + o.n_tokens <= 256 AND s.fi + o.n_images <= 4
              THEN s.seq_no ELSE s.seq_no + 1 END,
         CASE WHEN s.ft + o.n_tokens <= 256 AND s.fi + o.n_images <= 4
              THEN s.ft ELSE CAST(0 AS BIGINT) END,
         CASE WHEN s.ft + o.n_tokens <= 256 AND s.fi + o.n_images <= 4
              THEN s.fi ELSE CAST(0 AS BIGINT) END,
         CASE WHEN s.ft + o.n_tokens <= 256 AND s.fi + o.n_images <= 4
              THEN s.ft + o.n_tokens ELSE o.n_tokens END,
         CASE WHEN s.ft + o.n_tokens <= 256 AND s.fi + o.n_images <= 4
              THEN s.fi + o.n_images ELSE o.n_images END
  FROM s JOIN o ON o.shard = s.shard AND o.rn = s.rn + 1
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, seq_no, tok_offset,
       img_offset, n_tokens, n_images
FROM s
"""


def q169_ann_recall(spark, sf_dir):
    """ANN index-quality evaluation: per-query recall@5 of the IVF router
    (q18: nprobe=2) against exact brute-force top-5 truth (q17's
    operator) — the eval gate before trusting an approximate similarity
    stage, mirroring q117's LSH recall eval on the embedding path.
    Truth LEFT JOINs the IVF result on (query, neighbor); recall in
    int64 permille."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 97 == 0)
    truth = cosine_topk_bruteforce(
        emb, queries, "vec_id", "embedding", k=5
    ).select("query_id", "neighbor_id")
    approx = ivf_topk(
        emb, queries, "label", "vec_id", "embedding", k=5, nprobe=2
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        truth.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy(F.col("query_id").cast("long").alias("query_id"))
        .agg(
            F.count("*").cast("long").alias("n_truth"),
            F.count("_hit").cast("long").alias("n_hit"),
        )
        .withColumn(
            "recall_permille",
            F.expr("n_hit * 1000 div n_truth").cast("long"),
        )
    )


_Q169_SQL = f"""
WITH truth AS (
  SELECT query_id, neighbor_id
  FROM ({_Q17_SQL.strip()}) WHERE rank <= 5
),
approx AS (
  SELECT query_id, neighbor_id, 1 AS hit FROM ({_Q18_SQL.strip()})
)
SELECT CAST(t.query_id AS BIGINT) AS query_id,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(count(a.hit) AS BIGINT) AS n_hit,
       CAST(count(a.hit) * 1000 // count(*) AS BIGINT) AS recall_permille
FROM truth t
LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.query_id
"""


def q170_scheme_dupes(spark, sf_dir):
    """http/https duplicate collapse via SURT keys (functions/urls.
    surt_key aggregates — the scheme-upgrade dedup every recrawl faces):
    URLs whose SURT form coincides are the same resource served on both
    schemes; canonical = lexicographic min URL (pinned).  One surt-hash
    groupBy, zero Python."""
    from eget_spark.functions.urls import surt_key

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    scheme = F.when(d % 3 == 0, F.lit("http")).otherwise(F.lit("https"))
    other = F.when(d % 3 == 0, F.lit("https")).otherwise(F.lit("http"))
    mk = lambda s: F.concat(
        s, F.lit("://h"), (d % 23).cast("string"),
        F.lit(".example.com/p/"), d.cast("string"),
    )
    urls = docs.select("doc_id", mk(scheme).alias("url")).unionAll(
        docs.where(d % 5 == 0).select("doc_id", mk(other).alias("url"))
    )
    return (
        urls.select(
            surt_key(F.col("url")).alias("surt"),
            F.regexp_extract("url", r"^([a-z]+)://", 1).alias("_scheme"),
            F.col("url"),
        )
        .groupBy("surt")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("_scheme").cast("long").alias("n_schemes"),
            F.min("url").alias("canonical_url"),
        )
        .withColumn("scheme_dup", F.col("n_schemes") > 1)
    )


_Q170_SQL = r"""
WITH urls AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END
           || '://h' || CAST(doc_id % 23 AS VARCHAR)
           || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
  UNION ALL
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END
           || '://h' || CAST(doc_id % 23 AS VARCHAR)
           || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id % 5 = 0
),
k AS (
  SELECT url, regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
         array_to_string(list_reverse(string_split(
           regexp_extract(lower(url), '^[a-z][a-z0-9+.\-]*://([^/?#]+)', 1),
           '.')), ',')
         || ')'
         || regexp_extract(lower(url),
              '^[a-z][a-z0-9+.\-]*://[^/?#]+([^?#]*)', 1) AS surt
  FROM urls
)
SELECT surt, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT scheme) AS BIGINT) AS n_schemes,
       min(url) AS canonical_url,
       count(DISTINCT scheme) > 1 AS scheme_dup
FROM k GROUP BY surt
"""


def q171_compressibility(spark, sf_dir):
    """Compression-ratio spam/boilerplate signal (operators/quality_rules.
    compression_signals — the RefinedWeb/Gopher-family 'too compressible'
    heuristic: templated or repetitive pages deflate far below natural
    prose).  zlib level-6 over utf-8 text in one Arrow mapInPandas pass
    (deterministic bytes; no SQL-expressible oracle — rows-only class
    like q136, pinned instead by the pure-python pytest reference).
    ratio_permille = z_len*1000 div raw_len; int64."""
    from eget_spark.operators.quality_rules import compression_signals

    docs = _t(spark, sf_dir, "documents")
    return compression_signals(docs, "doc_id", "text")


def q172_ppjoin(spark, sf_dir):
    """Prefix-filtered exact Jaccard join (operators/dedup.ppjoin_pairs —
    the SSJoin/AllPairs/PPJoin candidate-pruning family): only each
    record's rarest n-ceil(t*n)+1 shingles enter the inverted index, a
    length filter prunes candidates, exact array_intersect verifies.
    IDENTICAL output to q15's full-index join at the same threshold —
    the oracle is the same exact SQL; the plan is the scale path."""
    from eget_spark.operators.dedup import ppjoin_pairs

    docs = _t(spark, sf_dir, "documents")
    return ppjoin_pairs(docs, "doc_id", "text", threshold=0.2, k=3)


_Q172_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, g FROM (
    SELECT doc_id, unnest({_SHINGLE_SQL}) AS g FROM documents)
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes na ON na.id = id_a
JOIN sizes nb ON nb.id = id_b
WHERE round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) >= 0.2
"""


def q173_opic(spark, sf_dir):
    """Adaptive OPIC frontier priority (operators/graph.opic_fixed —
    Abiteboul/Preda/Cobena WWW'03, the classic crawler-priority
    algorithm): synchronous cash/history propagation over the analytics
    link graph, dangling cash through the virtual page.  All int64 in
    1e-12 units (pagerank_fixed's discipline), bit-exact vs the
    unrolled-CTE oracle carrying both state columns."""
    from eget_spark.operators.graph import opic_fixed

    nodes, edges = _arith_edges(spark, sf_dir)
    st = opic_fixed(nodes, edges, n_iter=5)
    return st.select(
        F.col("id").alias("doc_id"), "cash_fp", "hist_fp", "opic_fp"
    )


def _q173_sql(n_iter: int = 5, scale: int = 10**12) -> str:
    parts = [
        "WITH ",
        _EDGES_SQL.lstrip(),
        ",\nodeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        f",\ns0 AS (SELECT doc_id AS id, {scale} // (SELECT c FROM n) AS cash,"
        " CAST(0 AS BIGINT) AS hist FROM documents)",
    ]
    for i in range(1, n_iter + 1):
        virt = (
            f"(SELECT coalesce(sum(s.cash), 0) FROM s{i-1} s "
            f"LEFT JOIN odeg o ON o.src = s.id WHERE o.src IS NULL)"
        )
        parts.append(
            f""",
s{i} AS (
  SELECT s.id,
         CAST(coalesce(c.contrib, 0) + {virt} // (SELECT c FROM n)
           AS BIGINT) AS cash,
         CAST(s.hist + s.cash AS BIGINT) AS hist
  FROM s{i-1} s LEFT JOIN (
    SELECT e.dst AS id, sum(s2.cash // o.od) AS contrib
    FROM edges e JOIN odeg o ON o.src = e.src JOIN s{i-1} s2 ON s2.id = e.src
    GROUP BY e.dst) c ON c.id = s.id)"""
        )
    parts.append(
        f"\nSELECT id AS doc_id, cash AS cash_fp, hist AS hist_fp,"
        f" CAST(cash + hist AS BIGINT) AS opic_fp FROM s{n_iter}"
    )
    return "".join(parts)


def q174_fetcher_assign(spark, sf_dir):
    """Rendezvous fetcher-fleet assignment + resize churn matrix
    (operators/assign — highest-random-weight hashing, Thaler &
    Ravishankar '96): owner(host) = argmax_w md5_60bit(host|w).  The
    distributed-crawler sharding step the single-process reference never
    needs; growing the fleet f0..f4 -> +f5 must move ONLY hosts whose new
    owner is f5 (politeness clocks/robots caches survive the resize).
    Assignment is a zero-shuffle higher-order fold — no worker table, no
    join; the churn rollup is the only aggregation."""
    from eget_spark.operators.assign import assignment_churn

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.com"),
        ).alias("host")
    )
    fleet_a = [f"f{i}" for i in range(5)]
    out = assignment_churn(hosts, "host", fleet_a, fleet_a + ["f5"])
    return out.select("worker_a", "worker_b", "n_hosts", "moved")


_Q174_SQL = """
WITH hosts AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS host
  FROM documents
),
wa AS (SELECT unnest(['f0','f1','f2','f3','f4']) AS worker),
wb AS (SELECT unnest(['f0','f1','f2','f3','f4','f5']) AS worker),
sa AS (
  SELECT host, worker,
         CAST(('0x' || substr(md5(host || '|' || worker), 1, 15)) AS BIGINT) AS w
  FROM hosts CROSS JOIN wa),
sb AS (
  SELECT host, worker,
         CAST(('0x' || substr(md5(host || '|' || worker), 1, 15)) AS BIGINT) AS w
  FROM hosts CROSS JOIN wb),
pa AS (
  SELECT host, worker AS worker_a FROM (
    SELECT host, worker,
           row_number() OVER (PARTITION BY host ORDER BY w DESC, worker DESC) AS rn
    FROM sa) t WHERE rn = 1),
pb AS (
  SELECT host, worker AS worker_b FROM (
    SELECT host, worker,
           row_number() OVER (PARTITION BY host ORDER BY w DESC, worker DESC) AS rn
    FROM sb) t WHERE rn = 1)
SELECT worker_a, worker_b, CAST(count(*) AS BIGINT) AS n_hosts,
       worker_a <> worker_b AS moved
FROM pa JOIN pb USING (host)
GROUP BY worker_a, worker_b
"""


def q175_fetch_timeline(spark, sf_dir):
    """Politeness waterfall (operators/politeness.fetch_timeline): the
    virtual per-fetch schedule under host-serial crawl-delay — slot k of
    a host starts at (k-1)*(fetch_ms+delay_ms).  Complements q159's
    makespan LOWER BOUND with the realized per-URL times; per-host
    max(finish_ms) == the bound's politeness span term.  One window
    shuffle on host (input is the round's budget-capped admitted set)."""
    from eget_spark.operators.politeness import fetch_timeline

    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 20).cast("string"),
                 F.lit(".test/p/"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string")).alias("host"),
        F.col("doc_id").alias("seq"),
        (((F.col("doc_id") % 20) % 3) * 100 + 100).cast("long").alias("delay_ms"),
    )
    return fetch_timeline(frontier, fetch_ms=50).select(
        "url", "host", "slot", "start_ms", "finish_ms"
    )


_Q175_SQL = """
WITH f AS (
  SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.test/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
         doc_id AS seq,
         CAST(((doc_id % 20) % 3) * 100 + 100 AS BIGINT) AS delay_ms
  FROM documents
)
SELECT url, host,
       CAST(row_number() OVER (PARTITION BY host ORDER BY seq) AS BIGINT) AS slot,
       CAST((row_number() OVER (PARTITION BY host ORDER BY seq) - 1)
            * (50 + delay_ms) AS BIGINT) AS start_ms,
       CAST((row_number() OVER (PARTITION BY host ORDER BY seq) - 1)
            * (50 + delay_ms) + 50 AS BIGINT) AS finish_ms
FROM f
"""


def q176_path_traps(spark, sf_dir):
    """Per-URL structural trap detection (operators/traps.path_cycle_flags
    — Heritrix-style path-repetition / too-many-segments rules): flags
    /x/y/x/y/x cycles and over-deep paths from the URL string ALONE, so
    it can gate admission with zero coordination (the complement of q55's
    host-statistical template mining).  Pure higher-order array algebra —
    no explode, no shuffle, no Python."""
    from eget_spark.operators.traps import path_cycle_flags

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("https://t.test/cal/"),
                     (F.col("doc_id") % 4).cast("string"),
                     F.lit("/cal/"), (F.col("doc_id") % 4).cast("string"),
                     F.lit("/cal/ev")),
        ).when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit("https://t.test/a/b/c/d/e/f/g/h/i/j/k/l/m/p"),
                     F.col("doc_id").cast("string")),
        ).otherwise(
            F.concat(F.lit("https://t.test/sec/"),
                     (F.col("doc_id") % 9).cast("string"),
                     F.lit("/p"), F.col("doc_id").cast("string")),
        ).alias("url"),
    )
    return path_cycle_flags(urls).select(
        "doc_id", "url", "depth", "max_seg_repeat", "is_trap"
    )


_Q176_SQL = r"""
WITH u AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 7 = 0 THEN
             'https://t.test/cal/' || CAST(doc_id % 4 AS VARCHAR)
               || '/cal/' || CAST(doc_id % 4 AS VARCHAR) || '/cal/ev'
           WHEN doc_id % 11 = 0 THEN
             'https://t.test/a/b/c/d/e/f/g/h/i/j/k/l/m/p' || CAST(doc_id AS VARCHAR)
           ELSE
             'https://t.test/sec/' || CAST(doc_id % 9 AS VARCHAR)
               || '/p' || CAST(doc_id AS VARCHAR)
         END AS url
  FROM documents
),
s AS (
  SELECT doc_id, url,
         list_filter(string_split(
           regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+([^?#]*)', 1),
           '/'), x -> x <> '') AS segs
  FROM u
)
SELECT doc_id, url,
       CAST(length(segs) AS BIGINT) AS depth,
       CAST(coalesce(list_max(list_transform(segs,
              x -> length(list_filter(segs, y -> y = x)))), 0) AS BIGINT)
         AS max_seg_repeat,
       coalesce(list_max(list_transform(segs,
           x -> length(list_filter(segs, y -> y = x)))), 0) > 2
         OR length(segs) > 12 AS is_trap
FROM s
"""


def q177_host_rank(spark, sf_dir):
    """Host-graph collapse + WEIGHTED fixed-point PageRank
    (operators/graph.collapse_to_hosts + pagerank_weighted_fixed): page
    edges roll up to (src_host, dst_host, weight), intra-host self-loops
    dropped, then rank flows as (pr*weight) div W_src — the host-level
    crawl-budget signal (host graph is ~3 orders smaller than the page
    graph).  All int64; bit-exact vs the unrolled weighted-CTE oracle."""
    from eget_spark.operators.graph import (
        collapse_to_hosts,
        pagerank_weighted_fixed,
    )

    _, edges = _arith_edges(spark, sf_dir)
    # materialize the collapse ONCE: the rank loop joins hedges every
    # iteration, and an unmaterialized groupBy would re-shuffle the page
    # edges 6 times (1 for w_out + 5 iterations)
    hedges = collapse_to_hosts(
        edges,
        F.concat(F.lit("h"), (F.col("src") % 20).cast("string")),
        F.concat(F.lit("h"), (F.col("dst") % 20).cast("string")),
    ).localCheckpoint()
    docs = _t(spark, sf_dir, "documents")
    hnodes = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string")).alias("id")
    ).distinct()
    pr = pagerank_weighted_fixed(hnodes, hedges, n_iter=5)
    return pr.select(F.col("id").alias("host"), "pr_fp")


def _q177_sql(n_iter: int = 5, damp_num: int = 17, damp_den: int = 20, scale: int = 10**12) -> str:
    base = (
        f"(({scale} * {damp_den - damp_num}) // {damp_den}) // (SELECT c FROM hn)"
    )
    parts = [
        "WITH ",
        _EDGES_SQL.lstrip(),
        """,
hedges AS (
  SELECT 'h' || CAST(src % 20 AS VARCHAR) AS src,
         'h' || CAST(dst % 20 AS VARCHAR) AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM edges WHERE src % 20 <> dst % 20 GROUP BY 1, 2),
hnodes AS (SELECT DISTINCT 'h' || CAST(doc_id % 20 AS VARCHAR) AS id FROM documents),
hn AS (SELECT count(*) AS c FROM hnodes),
wout AS (SELECT src, sum(w) AS tw FROM hedges GROUP BY src)""",
        f",\np0 AS (SELECT id, {scale} // (SELECT c FROM hn) AS pr_fp FROM hnodes)",
    ]
    for i in range(1, n_iter + 1):
        dang = (
            f"(SELECT coalesce(sum(p.pr_fp), 0) FROM p{i-1} p "
            f"LEFT JOIN wout o ON o.src = p.id WHERE o.src IS NULL)"
        )
        parts.append(
            f""",
p{i} AS (
  SELECT d.id,
         CAST({base}
              + ({damp_num} * (coalesce(s.contrib, 0)
                               + {dang} // (SELECT c FROM hn))) // {damp_den}
           AS BIGINT) AS pr_fp
  FROM hnodes d LEFT JOIN (
    SELECT e.dst AS id, sum((p.pr_fp * e.w) // o.tw) AS contrib
    FROM hedges e JOIN wout o ON o.src = e.src JOIN p{i-1} p ON p.id = e.src
    GROUP BY e.dst) s ON s.id = d.id)"""
        )
    parts.append(f"\nSELECT id AS host, pr_fp FROM p{n_iter}")
    return "".join(parts)


def q178_dust_rules(spark, sf_dir):
    """DUST param-strip rule mining (operators/dust.dust_param_rules —
    Bar-Yossef et al. WWW'07): learn from duplicate-content evidence which
    query params are safe to strip at canonicalization time.  Planted
    corpus: ?sid= never changes content (valid rule), ?page= does
    (violated rule).  One explode bounded by per-URL key count + ONE
    unique-key url join + map-side rollup."""
    from eget_spark.operators.dust import dust_param_rules

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    base = F.concat(F.lit("https://s.test/p"), (d % 100).cast("string"))
    parts = [
        docs.select(base.alias("url"), (d % 100).cast("long").alias("content_key")),
        docs.where(d % 3 == 0).select(
            F.concat(base, F.lit("?sid="), d.cast("string")).alias("url"),
            (d % 100).cast("long").alias("content_key"),
        ),
        docs.where(d % 5 == 0).select(
            F.concat(base, F.lit("?page=2")).alias("url"),
            (d % 100 + 1000).cast("long").alias("content_key"),
        ),
        docs.where(d % 15 == 0).select(
            F.concat(base, F.lit("?page=2&sid="), d.cast("string")).alias("url"),
            (d % 100 + 1000).cast("long").alias("content_key"),
        ),
    ]
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    return dust_param_rules(corpus, min_support=2).select(
        "param_key", "n_candidates", "n_support", "n_violate", "n_missing",
        "valid",
    )


_Q178_SQL = """
WITH corpus AS (
  SELECT url, min(ck) AS ck FROM (
    SELECT 'https://s.test/p' || CAST(doc_id % 100 AS VARCHAR) AS url,
           CAST(doc_id % 100 AS BIGINT) AS ck FROM documents
    UNION ALL
    SELECT 'https://s.test/p' || CAST(doc_id % 100 AS VARCHAR)
             || '?sid=' || CAST(doc_id AS VARCHAR),
           CAST(doc_id % 100 AS BIGINT) FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 'https://s.test/p' || CAST(doc_id % 100 AS VARCHAR) || '?page=2',
           CAST(doc_id % 100 + 1000 AS BIGINT) FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT 'https://s.test/p' || CAST(doc_id % 100 AS VARCHAR)
             || '?page=2&sid=' || CAST(doc_id AS VARCHAR),
           CAST(doc_id % 100 + 1000 AS BIGINT) FROM documents WHERE doc_id % 15 = 0
  ) t GROUP BY url
),
parsed AS (
  SELECT url, ck,
         CASE WHEN strpos(base, '?') > 0
              THEN substr(base, 1, strpos(base, '?') - 1) ELSE base END AS path,
         CASE WHEN strpos(base, '?') > 0
              THEN substr(base, strpos(base, '?') + 1) ELSE '' END AS query
  FROM (SELECT url, ck, string_split(url, '#')[1] AS base FROM corpus) b
),
withp AS (
  SELECT url, ck, path,
         list_filter(string_split(query, '&'), x -> x <> '') AS params
  FROM parsed
),
cand0 AS (
  SELECT url, ck, path, params,
         unnest(list_distinct(list_transform(params,
           x -> string_split(x, '=')[1]))) AS param_key
  FROM withp
),
cand AS (
  SELECT url, ck, param_key,
         CASE WHEN length(list_filter(params,
                    x -> string_split(x, '=')[1] <> param_key)) > 0
              THEN path || '?' || array_to_string(list_filter(params,
                    x -> string_split(x, '=')[1] <> param_key), '&')
              ELSE path END AS stripped
  FROM cand0
),
joined AS (
  SELECT c.param_key, c.ck, t.ck AS ck2
  FROM cand c LEFT JOIN corpus t ON t.url = c.stripped
)
SELECT param_key,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN ck2 IS NOT NULL AND ck2 = ck THEN 1 ELSE 0 END) AS BIGINT) AS n_support,
       CAST(sum(CASE WHEN ck2 IS NOT NULL AND ck2 <> ck THEN 1 ELSE 0 END) AS BIGINT) AS n_violate,
       CAST(sum(CASE WHEN ck2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
       sum(CASE WHEN ck2 IS NOT NULL AND ck2 <> ck THEN 1 ELSE 0 END) = 0
         AND sum(CASE WHEN ck2 IS NOT NULL AND ck2 = ck THEN 1 ELSE 0 END) >= 2
         AS valid
FROM joined GROUP BY param_key
"""


def q179_script_profile(spark, sf_dir):
    """Unicode-script census + mojibake flag (functions/text.
    script_profile): per-doc counts over 8 script classes (Java
    \\p{IsX} == RE2 \\p{X}, equality pinned), dominant script with
    first-in-list tie rule, and the 0xC3+supplement UTF-8-as-Latin-1
    damage signature.  Scripts injected per doc_id residue so every
    branch is exercised.  Pure zero-shuffle regexp projection."""
    from eget_spark.functions.text import script_profile

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = (
        F.when(d % 5 == 1, F.concat(F.col("text"), F.lit(" привет мир доброе утро")))
        .when(d % 5 == 2, F.concat(F.lit("世界 你好 世界 "), F.col("text")))
        .when(d % 5 == 3, F.concat(F.col("text"), F.lit(" Ã© hÃ¤llo Ã¼ber")))
        .when(d % 5 == 4, F.lit("مرحبا بالعالم اليوم"))
        .otherwise(F.col("text"))
    )
    return script_profile(
        docs.select("doc_id", t.alias("text")), "doc_id", "text"
    )


_Q179_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 5 = 1 THEN text || ' привет мир доброе утро'
           WHEN doc_id % 5 = 2 THEN '世界 你好 世界 ' || text
           WHEN doc_id % 5 = 3 THEN text || ' Ã© hÃ¤llo Ã¼ber'
           WHEN doc_id % 5 = 4 THEN 'مرحبا بالعالم اليوم'
           ELSE text
         END AS s
  FROM documents
),
c AS (
  SELECT doc_id, s,
    CAST(length(s) - length(regexp_replace(s, '[\p{Latin}]', '', 'g')) AS BIGINT) AS n_latin,
    CAST(length(s) - length(regexp_replace(s, '[\p{Cyrillic}]', '', 'g')) AS BIGINT) AS n_cyrillic,
    CAST(length(s) - length(regexp_replace(s, '[\p{Greek}]', '', 'g')) AS BIGINT) AS n_greek,
    CAST(length(s) - length(regexp_replace(s, '[\p{Arabic}]', '', 'g')) AS BIGINT) AS n_arabic,
    CAST(length(s) - length(regexp_replace(s, '[\p{Hebrew}]', '', 'g')) AS BIGINT) AS n_hebrew,
    CAST(length(s) - length(regexp_replace(s, '[\p{Devanagari}]', '', 'g')) AS BIGINT) AS n_devanagari,
    CAST(length(s) - length(regexp_replace(s, '[\p{Han}]', '', 'g')) AS BIGINT) AS n_han,
    CAST(length(s) - length(regexp_replace(s, '[\p{Hangul}]', '', 'g')) AS BIGINT) AS n_hangul,
    CAST(length(s) - length(regexp_replace(s, 'Ã[\x{0080}-\x{00FF}]', '', 'g')) AS BIGINT) AS mojraw
  FROM t
),
m AS (
  SELECT *, greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_hebrew,
                     n_devanagari, n_han, n_hangul) AS mx
  FROM c
)
SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_hebrew,
       n_devanagari, n_han, n_hangul,
       CASE WHEN mx = 0 THEN 'none'
            WHEN n_latin = mx THEN 'latin'
            WHEN n_cyrillic = mx THEN 'cyrillic'
            WHEN n_greek = mx THEN 'greek'
            WHEN n_arabic = mx THEN 'arabic'
            WHEN n_hebrew = mx THEN 'hebrew'
            WHEN n_devanagari = mx THEN 'devanagari'
            WHEN n_han = mx THEN 'han'
            ELSE 'hangul' END AS dominant,
       CAST(CASE WHEN length(s) > 0 THEN (1000 * mx) // length(s) ELSE 0 END AS BIGINT)
         AS dominant_permille,
       CAST(mojraw // 2 AS BIGINT) AS mojibake_hits
FROM m
"""


def q180_fleet_load(spark, sf_dir):
    """Fleet capacity planning (operators/assign.fleet_load): rendezvous
    ownership x per-host politeness spans — per worker, how many hosts/
    fetches it owns and its serial vs. best-case wall time.  The question
    every resize answers first: does HRW spread the politeness load, or
    is one fetcher stuck behind a mega-host?  Zero-shuffle HRW fold +
    ONE |workers|-key map-side groupBy."""
    from eget_spark.operators.assign import fleet_load

    docs = _t(spark, sf_dir, "documents")
    hosts = (
        docs.select(
            (F.col("doc_id") % 50).alias("_h"),
        )
        .groupBy("_h")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
        .select(
            F.concat(F.lit("h"), F.col("_h").cast("string"),
                     F.lit(".example.com")).alias("host"),
            "n_pages",
            ((F.col("_h") % 4) * 50 + 50).cast("long").alias("delay_ms"),
        )
    )
    return fleet_load(
        hosts, "host", [f"f{i}" for i in range(6)], fetch_ms=50
    ).select(
        "worker", "n_hosts", "n_fetches", "total_fetch_ms", "max_span_ms",
        "serial_ms",
    )


_Q180_SQL = """
WITH hs AS (
  SELECT doc_id % 50 AS h, CAST(count(*) AS BIGINT) AS n_pages
  FROM documents GROUP BY 1
),
hosts AS (
  SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host, n_pages,
         CAST((h % 4) * 50 + 50 AS BIGINT) AS delay_ms
  FROM hs
),
w AS (SELECT unnest(['f0','f1','f2','f3','f4','f5']) AS worker),
sc AS (
  SELECT host, worker,
         CAST(('0x' || substr(md5(host || '|' || worker), 1, 15)) AS BIGINT) AS wt
  FROM hosts CROSS JOIN w),
own AS (
  SELECT host, worker FROM (
    SELECT host, worker,
           row_number() OVER (PARTITION BY host ORDER BY wt DESC, worker DESC) AS rn
    FROM sc) t WHERE rn = 1)
SELECT o.worker,
       CAST(count(*) AS BIGINT) AS n_hosts,
       CAST(sum(h.n_pages) AS BIGINT) AS n_fetches,
       CAST(sum(h.n_pages) * 50 AS BIGINT) AS total_fetch_ms,
       CAST(max(h.n_pages * 50 + (h.n_pages - 1) * h.delay_ms) AS BIGINT) AS max_span_ms,
       CAST(sum(h.n_pages * 50 + (h.n_pages - 1) * h.delay_ms) AS BIGINT) AS serial_ms
FROM own o JOIN hosts h USING (host)
GROUP BY o.worker
"""


def q181_canonical_chain(spark, sf_dir):
    """The full production canonicalization chain, three operators
    composed end-to-end: HTTP redirects resolve by pointer doubling
    (operators/redirects, q85's map: i -> (7i+13) mod n unless i%3==0),
    the LANDING page's rel=canonical declaration collapses variants
    (operators/canonical, q92's block rule on the final id), and SURT
    folds http/https scheme twins (functions/urls.surt_key, q170).
    Unresolved redirect loops stay visible with canonical_key NULL.
    Per input URL: landing id, canonical key, surt group + group size."""
    from eget_spark.functions.urls import surt_key
    from eget_spark.operators.canonical import canonical_collapse
    from eget_spark.operators.redirects import resolve_redirects

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    d = F.col("doc_id")

    def _url(idc, scheme_of):
        return F.concat(
            F.when(scheme_of % 2 == 0, F.lit("https://")).otherwise(
                F.lit("http://")
            ),
            F.lit("h"), (idc % 16).cast("string"),
            F.lit(".example.org/p/"), idc.cast("string"),
        )

    universe = docs.select(d.alias("id"))
    redirects = docs.where(d % 3 != 0).select(
        d.alias("src"), ((d * 7 + 13) % n).alias("dst")
    )
    res = resolve_redirects(universe, redirects, max_hops=8)

    # landing pages: one per distinct final id; the page's scheme follows
    # the final id's parity, its canonical declaration follows q92's
    # block rule (always declared with the https scheme)
    fid = F.col("final_id")
    landing = (
        res.where(F.col("resolved")).select(fid.alias("lid")).distinct()
    )
    lid = F.col("lid")
    block = lid - lid % 5
    pages = landing.select(
        _url(lid, lid).alias("url"),
        F.when(
            lid % 5 % 4 != 0,  # %5 in (1,2,3): declares the block base
            F.concat(F.lit("https://h"), (block % 16).cast("string"),
                     F.lit(".example.org/p/"), block.cast("string")),
        ).alias("canonical_url"),
        lid.alias("_lid"),
    )
    collapsed = canonical_collapse(pages).join(
        pages.select("url", "_lid"), "url"
    )

    chain = res.join(
        collapsed.select(
            F.col("_lid").alias("final_id"), "canonical_key"
        ),
        "final_id",
        "left",
    ).select(
        F.col("id").alias("doc_id"),
        F.col("final_id"),
        F.col("resolved"),
        # an unresolved loop's 8-hop cut point may coincide with some
        # resolved chain's landing id — mask so loops stay NULL-keyed
        F.when(F.col("resolved"), F.col("canonical_key")).alias(
            "canonical_key"
        ),
    ).withColumn(
        "surt_group",
        F.when(
            F.col("canonical_key").isNotNull(), surt_key(F.col("canonical_key"))
        ),
    )
    sizes = (
        chain.where(F.col("surt_group").isNotNull())
        .groupBy("surt_group")
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
    )
    return chain.join(sizes, "surt_group", "left").select(
        "doc_id", "final_id", "resolved", "canonical_key", "surt_group",
        F.coalesce(F.col("group_size"), F.lit(0)).cast("long").alias(
            "group_size"
        ),
    )


_Q181_SQL = r"""
WITH RECURSIVE n AS (SELECT count(*) AS c FROM documents),
walk AS (
  SELECT doc_id AS id, doc_id AS cur, CAST(0 AS BIGINT) AS hops,
         (doc_id % 3 = 0) AS done
  FROM documents
  UNION ALL
  SELECT id, (cur*7+13) % (SELECT c FROM n), hops + 1,
         (((cur*7+13) % (SELECT c FROM n)) % 3 = 0)
  FROM walk WHERE NOT done AND hops < 8
),
res AS (
  SELECT id, cur AS final_id, done AS resolved
  FROM walk WHERE done OR hops = 8
),
ck AS (
  SELECT id, final_id, resolved,
         CASE WHEN NOT resolved THEN NULL
              WHEN final_id % 5 % 4 <> 0 THEN
                'https://h' || CAST((final_id - final_id % 5) % 16 AS VARCHAR)
                  || '.example.org/p/' || CAST(final_id - final_id % 5 AS VARCHAR)
              ELSE
                CASE WHEN final_id % 2 = 0 THEN 'https://' ELSE 'http://' END
                  || 'h' || CAST(final_id % 16 AS VARCHAR)
                  || '.example.org/p/' || CAST(final_id AS VARCHAR)
         END AS canonical_key
  FROM res
),
sg AS (
  SELECT id, final_id, resolved, canonical_key,
         CASE WHEN canonical_key IS NULL THEN NULL ELSE
           array_to_string(list_reverse(string_split(
             regexp_extract(lower(canonical_key),
                            '^[a-z][a-z0-9+.\-]*://([^/?#]+)', 1), '.')), ',')
           || ')'
           || regexp_extract(lower(canonical_key),
                             '^[a-z][a-z0-9+.\-]*://[^/?#]+([^?#]*)', 1)
         END AS surt_group
  FROM ck
),
sz AS (
  SELECT surt_group, CAST(count(*) AS BIGINT) AS group_size
  FROM sg WHERE surt_group IS NOT NULL GROUP BY surt_group
)
SELECT s.id AS doc_id, s.final_id, s.resolved, s.canonical_key,
       s.surt_group, CAST(coalesce(z.group_size, 0) AS BIGINT) AS group_size
FROM sg s LEFT JOIN sz z USING (surt_group)
"""


def q182_link_diversity(spark, sf_dir):
    """Per-target link diversity (operators/hll.hll_estimate_by — the
    KEYED HyperLogLog): distinct referring sources per target host,
    sketch estimate NEXT TO the exact count so the driver pins both the
    bit-exact registers and the arithmetic.  The spam feature behind
    TrustRank seeds: 10^6 links from one farm = 1 unit of diversity.
    Keyed sketches never materialize empty buckets per key (v_zero and
    the harmonic sum close over them in integer form) — state is
    O(occupied buckets), skew-proof where count(DISTINCT) is not."""
    from eget_spark.operators.hll import hll_estimate_by

    _, edges = _arith_edges(spark, sf_dir)
    refs = edges.select(
        F.concat(F.lit("h"), (F.col("dst") % 20).cast("string")).alias("key"),
        F.concat(F.lit("h"), (F.col("src") % 97).cast("string")).alias("val"),
    )
    sk = hll_estimate_by(refs, "key", F.col("val"), p=8)
    exact = refs.groupBy("key").agg(
        F.countDistinct("val").cast("long").alias("n_exact")
    )
    return sk.join(F.broadcast(exact), "key").select(
        F.col("key").alias("dst_host"), "m", "v_zero", "sum_scaled",
        "estimate", "n_exact",
    )


_Q182_SQL = (
    "WITH "
    + _EDGES_SQL.lstrip()
    + r""",
e2 AS (
  SELECT 'h' || CAST(dst % 20 AS VARCHAR) AS key,
         'h' || CAST(src % 97 AS VARCHAR) AS val
  FROM edges
),
h AS (
  SELECT key, CAST(('0x' || substr(md5(val), 1, 15)) AS BIGINT) AS h FROM e2
),
rho AS (
  SELECT key, bucket, CAST((52 - bit_count(s32)) + 1 AS INT) AS rho FROM (
    SELECT key, bucket, s16 | (s16 >> 32) AS s32 FROM (
      SELECT key, bucket, s8 | (s8 >> 16) AS s16 FROM (
        SELECT key, bucket, s4 | (s4 >> 8) AS s8 FROM (
          SELECT key, bucket, s2 | (s2 >> 4) AS s4 FROM (
            SELECT key, bucket, s1 | (s1 >> 2) AS s2 FROM (
              SELECT key, h & 255 AS bucket,
                     (h >> 8) | ((h >> 8) >> 1) AS s1 FROM h))))))
),
mx AS (SELECT key, bucket, max(rho) AS reg FROM rho GROUP BY key, bucket),
pk AS (
  SELECT key, CAST(count(*) AS BIGINT) AS occ,
         CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS sum_occ
  FROM mx GROUP BY key
),
one AS (
  SELECT key, CAST(256 AS BIGINT) AS m,
         CAST(256 - occ AS BIGINT) AS v_zero,
         CAST(sum_occ + (256 - occ) * 9007199254740992 AS BIGINT) AS sum_scaled
  FROM pk
),
exact AS (SELECT key, CAST(count(DISTINCT val) AS BIGINT) AS n_exact FROM e2 GROUP BY key)
SELECT o.key AS dst_host, o.m, o.v_zero, o.sum_scaled,
       round(CASE WHEN ((((0.7213 / (1.0 + 1.079 / 256)) * 256.0) * 256.0) * 9007199254740992.0) / o.sum_scaled <= 640.0
                   AND o.v_zero > 0
             THEN 256.0 * ln(256.0 / o.v_zero)
             ELSE ((((0.7213 / (1.0 + 1.079 / 256)) * 256.0) * 256.0) * 9007199254740992.0) / o.sum_scaled
             END, 2) AS estimate,
       x.n_exact
FROM one o JOIN exact x USING (key)
"""
)


def q183_subdomain_farms(spark, sf_dir):
    """Wildcard-subdomain farm detection (operators/traps.
    subdomain_farm_flags): the DNS-level trap family — one registrable
    domain, hundreds of 1-page hosts, every per-host control dodged.
    Planted corpus: docs %3==0 become unique subdomains of
    farm.example.com (flagged), the rest spread over 5 legit .co.uk
    sites (many pages per host, clean).  ONE map-side groupBy on the
    PSL-lite eTLD+1 derived in-expression (no lookup join)."""
    from eget_spark.operators.traps import subdomain_farm_flags

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    hosts = docs.select(
        F.when(
            d % 3 == 0,
            F.concat(F.lit("u"), d.cast("string"), F.lit(".farm.example.com")),
        ).otherwise(
            F.concat(F.lit("www.site"), (d % 5).cast("string"), F.lit(".co.uk"))
        ).alias("host")
    )
    return subdomain_farm_flags(hosts, min_hosts=20)


_Q183_SQL = """
WITH h AS (
  SELECT CASE WHEN doc_id % 3 = 0
              THEN 'u' || CAST(doc_id AS VARCHAR) || '.farm.example.com'
              ELSE 'www.site' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
         END AS host,
         CASE WHEN doc_id % 3 = 0 THEN 'example.com'
              ELSE 'site' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
         END AS domain
  FROM documents
)
SELECT domain,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST((1000 * count(*)) // count(DISTINCT host) AS BIGINT)
         AS avg_pages_permille,
       count(DISTINCT host) >= 20
         AND (1000 * count(*)) // count(DISTINCT host) <= 2000 AS farm
FROM h GROUP BY domain
"""


def q184_implied_delays(spark, sf_dir):
    """Implied crawl-delay inference (operators/politeness.
    implied_crawl_delay): per-host min/median inter-fetch gaps from the
    fetch log — the empirical rate limit where robots.txt is silent.
    Fixture: host h fetches at slot*(200+h*100) + deterministic jitter,
    so gaps vary within a host and the exact-rank median is exercised.
    ONE host exchange shared by the lag window, the rank window, and
    the aggregate."""
    from eget_spark.operators.politeness import implied_crawl_delay

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    h = d % 10
    k = F.expr("doc_id div 10")
    log = docs.select(
        F.concat(F.lit("h"), h.cast("string")).alias("host"),
        (k * (F.lit(200) + h * 100) + (k * h) % 35).cast("long").alias(
            "ts_ms"
        ),
    )
    return implied_crawl_delay(log)


_Q184_SQL = """
WITH log AS (
  SELECT 'h' || CAST(doc_id % 10 AS VARCHAR) AS host,
         CAST((doc_id // 10) * (200 + (doc_id % 10) * 100)
              + ((doc_id // 10) * (doc_id % 10)) % 35 AS BIGINT) AS ts_ms
  FROM documents
),
gaps AS (
  SELECT host, ts_ms AS ts,
         ts_ms - lag(ts_ms) OVER (PARTITION BY host ORDER BY ts_ms) AS gap
  FROM log
),
g AS (SELECT host, ts, gap FROM gaps WHERE gap IS NOT NULL),
ranked AS (
  SELECT host, gap,
         row_number() OVER (PARTITION BY host ORDER BY gap, ts) AS rn,
         count(*) OVER (PARTITION BY host) AS n
  FROM g
)
SELECT host,
       CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(min(gap) AS BIGINT) AS min_gap_ms,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS BIGINT)
         AS median_gap_ms
FROM ranked GROUP BY host
"""


def q185_cdx_index(spark, sf_dir):
    """CDX index build (sources/warc.py + functions/urls.surt_key): the
    web-archive lookup table — (surt, url, date, status, byte offset,
    record length) per WARC record, exactly what OpenWayback/pywb serve
    range requests from.  The engine writes ONE url-sorted plain WARC
    from the documents, re-reads it, and the parser's byte coordinates
    must equal the oracle's CLOSED-FORM layout arithmetic (every header
    byte of the writer accounted for: a one-byte drift anywhere in
    writer or parser breaks the hash).  Offsets here are positions in
    the (inflated) stream; range-sorting on surt is what makes a site
    contiguous in the index."""
    from eget_spark.functions.urls import surt_key
    from eget_spark.sources.warc import read_warc, write_warc_partitions

    d = F.col("doc_id")
    recs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://w"), (d % 7).cast("string"),
            F.lit(".example.org/d/"), d.cast("string"),
        ).alias("url"),
        F.encode("text", "utf-8").alias("payload"),
    )
    files = write_warc_partitions(recs.repartition(1))
    parsed = read_warc(files.select(F.col("file_name").alias("path"), "content"))
    return parsed.select(
        surt_key(F.col("url")).alias("surt"),
        "url",
        "warc_date",
        "status",
        F.col("offset").alias("rec_offset"),
        "rec_len",
    )


_Q185_SQL = r"""
WITH r AS (
  SELECT 'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/d/'
           || CAST(doc_id AS VARCHAR) AS url,
         octet_length(encode(text)) AS p
  FROM documents
),
s AS (SELECT url, 62 + length(CAST(p AS VARCHAR)) + p AS h FROM r),
z AS (
  SELECT url,
         CAST(217 + length(url) + length(CAST(h AS VARCHAR)) + h AS BIGINT)
           AS rec_len
  FROM s
),
o AS (
  SELECT url, rec_len,
         CAST(coalesce(sum(rec_len + 4) OVER (
           ORDER BY url ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS rec_offset
  FROM z
)
SELECT array_to_string(list_reverse(string_split(
         regexp_extract(lower(url), '^[a-z][a-z0-9+.\-]*://([^/?#]+)', 1),
         '.')), ',')
       || ')'
       || regexp_extract(lower(url), '^[a-z][a-z0-9+.\-]*://[^/?#]+([^?#]*)', 1)
         AS surt,
       url,
       '2024-01-01T00:00:00Z' AS warc_date,
       CAST(200 AS INT) AS status,
       rec_offset, rec_len
FROM o
"""


def q186_revisit_dedup(spark, sf_dir):
    """WARC revisit-record storage dedup (sources/warc.revisit_dedup —
    WARC 1.1 §6.7.2 identical-payload-digest profile): per (url, payload
    sha256), the first capture in fetch-time order stores the full
    response; later identical captures become zero-payload revisit
    records referring to the original's timestamp.  Fixture: doc d has
    1 + d%4 captures; the payload changes every SECOND capture, so odd
    captures are byte-identical to their predecessor and must come back
    as revisits.  One (url, digest)-keyed window, JVM sha2 in codegen."""
    from eget_spark.sources.warc import revisit_dedup

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    caps = docs.select(
        F.concat(F.lit("https://rv.example.org/p/"), d.cast("string")).alias(
            "url"
        ),
        F.explode(F.sequence(F.lit(0), (d % 4).cast("int"))).alias("v"),
        d.alias("_d"),
        F.col("text"),
    ).select(
        "url",
        ((F.col("_d") * 100 + F.col("v") * 10) * 1000000).alias("fetch_time"),
        F.encode(
            F.concat(
                F.col("text"),
                F.lit("#v"),
                F.floor(F.col("v") / 2).cast("string"),
            ),
            "utf-8",
        ).alias("payload"),
    )
    return revisit_dedup(caps)


_Q186_SQL = r"""
WITH caps AS (
  SELECT 'https://rv.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
         (doc_id * 100 + v.q * 10) * 1000000 AS fetch_time,
         text || '#v' || CAST(v.q // 2 AS VARCHAR) AS payload
  FROM documents
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 4)) v
    ON v.q <= doc_id % 4
),
dg AS (
  SELECT url, fetch_time, sha256(payload) AS digest,
         octet_length(encode(payload)) AS plen
  FROM caps
),
f AS (
  SELECT *, min(fetch_time) OVER (PARTITION BY url, digest) AS first_t
  FROM dg
)
SELECT url, fetch_time, digest,
       CASE WHEN fetch_time = first_t THEN 'response' ELSE 'revisit' END
         AS record_type,
       CAST(CASE WHEN fetch_time = first_t THEN NULL ELSE first_t END
            AS BIGINT) AS refers_to,
       CAST(CASE WHEN fetch_time = first_t THEN plen ELSE 0 END AS BIGINT)
         AS stored_bytes
FROM f
"""


def q187_poisson_rate(spark, sf_dir):
    """Cho & Garcia-Molina improved change-frequency estimator
    (operators/recrawl.estimate_change_rate — "Estimating Frequency of
    Change" ACM TOIT 2003 §4.2): r_hat = -ln((n - X + 0.5)/(n + 0.5))
    per check interval, refresh interval = I / r_hat clamped to
    [1 h, 7 d], max backoff for never-changed pages.  Fixture: doc d is
    checked 4 + d%4 times at a 24 h cadence and changed at check i iff
    (d*7 + i) % 3 == 0.  One map-side-combined groupBy(url) — no
    window, no join."""
    from eget_spark.operators.recrawl import estimate_change_rate

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    checks = docs.select(
        F.concat(F.lit("https://cr.example.org/p/"), d.cast("string")).alias(
            "url"
        ),
        F.explode(F.sequence(F.lit(1), (4 + d % 4).cast("int"))).alias("i"),
        d.alias("_d"),
    ).select(
        "url", ((F.col("_d") * 7 + F.col("i")) % 3 == 0).alias("changed")
    )
    return estimate_change_rate(checks, id_col="url").withColumnRenamed(
        "id", "url"
    )


_Q187_SQL = r"""
WITH checks AS (
  SELECT 'https://cr.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
         ((doc_id * 7 + v.q) % 3 = 0) AS changed
  FROM documents
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(1, 8)) v
    ON v.q <= 4 + doc_id % 4
),
agg AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
  FROM checks GROUP BY url
)
SELECT url, n_obs, n_changed,
       round(-ln((n_obs - n_changed + 0.5) / (n_obs + 0.5)), 6) AS rate_per_day,
       CAST(CASE WHEN n_changed = 0 THEN 604800
                 ELSE least(604800.0, greatest(3600.0,
                        round(86400.0 / (-ln((n_obs - n_changed + 0.5)
                                              / (n_obs + 0.5))), 0)))
            END AS BIGINT) AS next_interval_sec
FROM agg
"""


def q188_triangles(spark, sf_dir):
    """Degree-ordered triangle counting + local clustering coefficient
    (operators/graph.triangle_counts — Schank & Wagner 2005 node
    iterator): link-farm/star spam shows near-zero clustering, organic
    neighborhoods cluster.  Runs on the shared analytics link graph
    (same edge synthesis as q40/q84).  Orientation from the lower
    (degree, id) endpoint bounds wedge fan-out at hubs; three uniform
    hash joins, no window."""
    from eget_spark.operators.graph import triangle_counts

    nodes, edges = _arith_edges(spark, sf_dir)
    return triangle_counts(nodes, edges).withColumnRenamed("id", "doc_id")


_Q188_SQL = (
    "WITH "
    + _EDGES_SQL.lstrip().removeprefix("WITH ")
    + r""",
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
  GROUP BY n
),
o AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
              THEN u.b ELSE u.a END AS v
  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
),
tri AS (
  SELECT e1.u, e1.v, e2.v AS w
  FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.v < e2.v
  WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = e1.v AND c.v = e2.v)
     OR EXISTS (SELECT 1 FROM o c WHERE c.u = e2.v AND c.v = e1.v)
),
pn AS (
  SELECT n, CAST(count(*) AS BIGINT) AS triangles
  FROM (SELECT u AS n FROM tri UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri)
  GROUP BY n
)
SELECT d.doc_id, CAST(coalesce(g.deg, 0) AS BIGINT) AS degree,
       CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN coalesce(g.deg, 0) >= 2
            THEN round(2.0 * coalesce(p.triangles, 0)
                       / (g.deg * (g.deg - 1.0)), 6)
            ELSE 0.0 END AS clustering
FROM documents d
LEFT JOIN deg g ON g.n = d.doc_id
LEFT JOIN pn p ON p.n = d.doc_id
"""
)


def q189_zipnum_blocks(spark, sf_dir):
    """ZipNum prefix-compressed CDX index blocks (sources/warc.
    zipnum_blocks): sorted SURT keys cut into 32-key blocks, each
    front-coded with an LCP-0 restart at the block head — the pywb/
    OpenWayback secondary-index layout that makes a 10^10-URL archive
    index fit.  Global rank via the range-exchange sequencer, LCP via
    split/zip_with in codegen; the oracle recomputes the front-coding
    with DuckDB list lambdas."""
    from eget_spark.functions.urls import surt_key
    from eget_spark.sources.warc import zipnum_blocks

    d = F.col("doc_id")
    qpart = (
        F.when(d % 3 == 1, F.lit("?b=2&a=1"))
        .when(d % 3 == 2, F.lit("?z=9"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".Example.COM/A/"),
        d.cast("string"),
        qpart,
    )
    keys = _t(spark, sf_dir, "documents").select(surt_key(url).alias("surt"))
    return zipnum_blocks(keys, "surt", block_size=32)


_Q189_SQL = r"""
WITH urls AS (
  SELECT 'https://www.' || source || '.Example.COM/A/'
           || CAST(doc_id AS VARCHAR)
           || CASE doc_id % 3 WHEN 1 THEN '?b=2&a=1'
                              WHEN 2 THEN '?z=9' ELSE '' END AS url
  FROM documents
),
parts AS (
  SELECT url,
         regexp_replace(
           lower(regexp_extract(lower(url),
                 '^[a-z][a-z0-9+.\-]*://([^/?#]+)', 1)),
           '^www\.', '') AS host,
         regexp_extract(lower(url),
                 '^[a-z][a-z0-9+.\-]*://[^/?#]+([^?#]*)', 1) AS path,
         regexp_extract(lower(url), '\?([^#]*)', 1) AS qry
  FROM urls
),
surts AS (
  SELECT array_to_string(list_reverse(string_split(host, '.')), ',')
         || ')'
         || CASE WHEN path = '' THEN '/' ELSE path END
         || CASE WHEN len(list_filter(string_split(qry, '&'), p -> p <> '')) > 0
                 THEN '?' || array_to_string(
                        list_sort(list_filter(string_split(qry, '&'),
                                              p -> p <> '')), '&')
                 ELSE '' END AS key
  FROM parts
),
ranked AS (
  SELECT key, row_number() OVER (ORDER BY key) - 1 AS rnk FROM surts
),
blocked AS (SELECT key, rnk, rnk // 32 AS block_id FROM ranked),
lcps AS (
  SELECT block_id, key, length(key) AS len,
         CASE WHEN lag(key) OVER w IS NULL THEN 0
              ELSE coalesce(
                list_min(list_filter(
                  range(1, least(length(lag(key) OVER w), length(key)) + 1),
                  k -> substr(lag(key) OVER w, CAST(k AS INT), 1)
                       <> substr(key, CAST(k AS INT), 1))) - 1,
                least(length(lag(key) OVER w), length(key)))
         END AS lcp
  FROM blocked
  WINDOW w AS (PARTITION BY block_id ORDER BY key, rnk)
)
SELECT block_id, min(key) AS first_key,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(len) AS BIGINT) AS raw_chars,
       CAST(sum(len - lcp) AS BIGINT) AS stored_chars,
       CASE WHEN sum(len) > 0
            THEN round(1.0 - sum(len - lcp) / CAST(sum(len) AS DOUBLE), 6)
            ELSE 0.0 END AS savings
FROM lcps GROUP BY block_id
"""


def q190_refresh_value(spark, sf_dir):
    """Freshness-weighted refresh budget allocation — the composed
    incremental-crawl scheduler (Cho & Garcia-Molina's freshness-driven
    ordering over centrality): value = PageRank x staleness, top-budget
    selected.  Pinned integer semantics: pr_fp from the 5-iteration
    fixed-point rank (q40, bit-exact), staleness_permille =
    least(1000, 1000*age div interval) with age = (1 + d%10) days and
    per-URL interval = (1 + d%5) days, value = pr_fp *
    staleness_permille, and the 100-page budget selects the top rows by
    (value desc, doc_id) via the range-exchange sequencer — never a
    single-partition window."""
    from eget_spark.operators.graph import pagerank_fixed
    from eget_spark.operators.sequence import with_global_seq

    nodes, edges = _arith_edges(spark, sf_dir)
    pr = pagerank_fixed(nodes, edges, n_iter=5)
    d = F.col("id")
    us_day = 86400000000
    stale = F.least(
        F.lit(1000),
        F.expr(f"(1000 * ((1 + id % 10) * {us_day})) div ((1 + id % 5) * {us_day})"),
    ).cast("long")
    vals = pr.select(
        d.alias("doc_id"),
        "pr_fp",
        stale.alias("staleness_permille"),
        (F.col("pr_fp") * stale).cast("long").alias("value"),
    ).withColumn("_nv", -F.col("value"))
    ranked = with_global_seq(vals, ["_nv", "doc_id"], start=1, seq_col="_rk").df
    return ranked.select(
        "doc_id",
        "pr_fp",
        "staleness_permille",
        "value",
        (F.col("_rk") <= 100).alias("selected"),
    )


def _q190_sql() -> str:
    us_day = 86400000000
    return f"""
WITH pr AS ({_q40_sql()}),
vals AS (
  SELECT p.doc_id, p.pr_fp,
         CAST(least(1000, (1000 * ((1 + p.doc_id % 10) * {us_day}))
                          // ((1 + p.doc_id % 5) * {us_day})) AS BIGINT)
           AS staleness_permille,
         CAST(p.pr_fp * least(1000,
                (1000 * ((1 + p.doc_id % 10) * {us_day}))
                // ((1 + p.doc_id % 5) * {us_day})) AS BIGINT) AS value
  FROM pr p
)
SELECT doc_id, pr_fp, staleness_permille, value,
       row_number() OVER (ORDER BY value DESC, doc_id) <= 100 AS selected
FROM vals
"""


def q191_heaps_fit(spark, sf_dir):
    """Heaps-law least-squares fit (functions/text.heaps_fit): V = K*T^beta
    estimated over id-threshold checkpoints of the vocabulary growth curve
    — the tokenizer-sizing / OOV-decay parameters, computed with exact
    int64 fixed-point sums (round(ln*1e6)) so the OLS is bit-identical
    cross-engine.  Two map-side-combined aggregates over the exploded
    corpus + a broadcast of the 2-value fit; no window, no driver math."""
    from eget_spark.functions.text import heaps_fit

    return heaps_fit(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        thresholds=[10, 25, 50, 100, 200, 350, 500, 1000, 5000, 20000],
    )


_Q191_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS t
  FROM documents
),
th AS (SELECT CAST(unnest([10, 25, 50, 100, 200, 350, 500, 1000, 5000, 20000])
              AS BIGINT) AS threshold),
first_ AS (SELECT t, min(doc_id) AS first_id FROM toks GROUP BY t),
vocab AS (
  SELECT th.threshold,
         CAST(sum(CASE WHEN f.first_id <= th.threshold THEN 1 ELSE 0 END)
              AS BIGINT) AS vocab_size
  FROM first_ f, th GROUP BY 1
),
dtc AS (SELECT doc_id, count(*) AS c FROM toks GROUP BY doc_id),
cumtok AS (
  SELECT th.threshold,
         CAST(sum(CASE WHEN d.doc_id <= th.threshold THEN d.c ELSE 0 END)
              AS BIGINT) AS cum_tokens
  FROM dtc d, th GROUP BY 1
),
pts AS (
  SELECT v.threshold, c.cum_tokens, v.vocab_size
  FROM vocab v JOIN cumtok c USING (threshold)
  WHERE v.vocab_size > 0 AND c.cum_tokens > 0
),
fx AS (
  SELECT threshold, cum_tokens, vocab_size,
         CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1e6, 0) AS BIGINT) AS xi,
         CAST(round(ln(CAST(vocab_size AS DOUBLE)) * 1e6, 0) AS BIGINT) AS yi
  FROM pts
),
agg AS (
  SELECT count(*) AS n, sum(xi) AS sx, sum(yi) AS sy,
         sum(xi * yi) AS sxy, sum(xi * xi) AS sxx
  FROM fx
),
co AS (
  SELECT round(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS heaps_beta,
         n, sx, sy
  FROM agg
),
fit AS (
  SELECT heaps_beta,
         round((CAST(sy AS DOUBLE) / 1e6
                - heaps_beta * (CAST(sx AS DOUBLE) / 1e6))
               / CAST(n AS DOUBLE), 6) AS heaps_lnk
  FROM co
)
SELECT p.threshold, p.cum_tokens, p.vocab_size, f.heaps_beta, f.heaps_lnk
FROM pts p CROSS JOIN fit f
"""


def q192_coreness(spark, sf_dir):
    """k-core decomposition via the iterated H-index (operators/graph.
    coreness_hindex — Lü et al. 2016): h0 = degree, each round takes the
    H-index of the neighbors' values; converges monotonically to exact
    coreness.  Dense-community vs star-spam crawl signal on the shared
    analytics link graph (q40/q84/q188 edge synthesis).  20 pinned
    rounds (no-ops past convergence), pure integer — bit-exact; per
    round one hash join + one node-partitioned window + one map-side
    max, state localCheckpoint-ed."""
    from eget_spark.operators.graph import coreness_hindex

    nodes, edges = _arith_edges(spark, sf_dir)
    return coreness_hindex(nodes, edges, n_rounds=20).withColumnRenamed(
        "id", "doc_id"
    )


def _q192_sql(n_rounds: int = 20) -> str:
    blocks = []
    for i in range(1, n_rounds + 1):
        blocks.append(
            f"""v{i} AS MATERIALIZED (
  SELECT n, CAST(max(least(rn, nv)) AS BIGINT) AS v
  FROM (
    SELECT b.n, p.v AS nv,
           CAST(row_number() OVER (PARTITION BY b.n
                                   ORDER BY p.v DESC, b.nb) AS BIGINT) AS rn
    FROM bidir b JOIN v{i - 1} p ON p.n = b.nb
  ) GROUP BY n
)"""
        )
    rounds = ",\n".join(blocks)
    return (
        "WITH "
        + _EDGES_SQL.lstrip().removeprefix("WITH ")
        + f""",
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
bidir AS MATERIALIZED (SELECT a AS n, b AS nb FROM und
                       UNION ALL SELECT b, a FROM und),
v0 AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS v
                    FROM bidir GROUP BY n),
{rounds}
SELECT d.doc_id, CAST(coalesce(p.v, 0) AS BIGINT) AS coreness
FROM documents d LEFT JOIN v{n_rounds} p ON p.n = d.doc_id
"""
    )


def q193_hyperball(spark, sf_dir):
    """HyperBall neighborhood sketches + harmonic centrality (operators/
    graph.hyperball — Boldi & Vigna 2013): per-node HLL out-ball sketches
    grown by 6 register-max successor-merge rounds; reach_est = estimated
    |B_6(v)|, harmonic = sum_t (|B_t|-|B_{t-1}|)/t.  Registers bit-exact
    (operators/hll.py contract on the node-id string); per-round
    estimates rounded to 2 ARE the pinned harmonic inputs.  Sparse
    (node,bucket,reg) state; one join + one map-side max per round."""
    from eget_spark.operators.graph import hyperball

    nodes, edges = _arith_edges(spark, sf_dir)
    return hyperball(nodes, edges, p=4, n_rounds=6).withColumnRenamed(
        "id", "doc_id"
    )


def _hyperball_sql_ctes(p: int = 4, n_rounds: int = 6) -> str:
    """Shared WITH-body: arith edges + HyperBall register/estimate
    CTEs r0..rK / est0..estK (the q193 contract verbatim)."""
    m = 1 << p
    width = 60 - p
    scale = 1 << (width + 1)
    raw = (
        f"((((0.7213 / (1.0 + 1.079 / {m}.0)) * {m}.0) * {m}.0) * {scale}.0)"
        " / sum_scaled"
    )

    def est(t: int) -> str:
        return f"""est{t} AS MATERIALIZED (
  SELECT node,
         round(CASE WHEN {raw} <= {2.5 * m} AND v_zero > 0
                    THEN {m}.0 * ln({m}.0 / v_zero)
                    ELSE {raw} END, 2) AS e
  FROM (
    SELECT node, CAST({m} - count(*) AS BIGINT) AS v_zero,
           CAST(sum(CAST(1 AS BIGINT) << ({width + 1} - reg))
                + ({m} - count(*)) * {scale} AS BIGINT) AS sum_scaled
    FROM r{t} GROUP BY node
  )
)"""

    blocks = [
        f"""r0 AS MATERIALIZED (
  SELECT node, bucket, CAST(({width} - bit_count(s32)) + 1 AS INT) AS reg FROM (
    SELECT node, bucket, s16 | (s16 >> 32) AS s32 FROM (
      SELECT node, bucket, s8 | (s8 >> 16) AS s16 FROM (
        SELECT node, bucket, s4 | (s4 >> 8) AS s8 FROM (
          SELECT node, bucket, s2 | (s2 >> 4) AS s4 FROM (
            SELECT node, bucket, s1 | (s1 >> 2) AS s2 FROM (
              SELECT node, h & {m - 1} AS bucket,
                     (h >> {p}) | ((h >> {p}) >> 1) AS s1
              FROM (SELECT doc_id AS node,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                                1, 15)) AS BIGINT) AS h
                    FROM documents)))))))
)""",
        est(0),
    ]
    for t in range(1, n_rounds + 1):
        blocks.append(
            f"""r{t} AS MATERIALIZED (
  SELECT node, bucket, CAST(max(reg) AS INT) AS reg FROM (
    SELECT node, bucket, reg FROM r{t - 1}
    UNION ALL
    SELECT e.src AS node, r.bucket, r.reg
    FROM edges e JOIN r{t - 1} r ON r.node = e.dst
  ) GROUP BY node, bucket
)"""
        )
        blocks.append(est(t))
    return (
        "WITH "
        + _EDGES_SQL.lstrip().removeprefix("WITH ")
        + ",\n"
        + ",\n".join(blocks)
    )


def _q193_sql(p: int = 4, n_rounds: int = 6) -> str:
    terms = " + ".join(
        f"((est{t}.e - est{t - 1}.e) / {t}.0)" for t in range(1, n_rounds + 1)
    )
    joins = "\n".join(
        f"JOIN est{t} ON est{t}.node = d.doc_id" for t in range(n_rounds + 1)
    )
    return (
        _hyperball_sql_ctes(p, n_rounds)
        + f"""
SELECT d.doc_id, est{n_rounds}.e AS reach_est,
       round({terms}, 6) AS harmonic
FROM documents d
{joins}
"""
    )


def q203_neighborhood_function(spark, sf_dir):
    """ANF / effective diameter from the HyperBall sketches
    (operators/graph.neighborhood_function — Palmer et al. KDD 2002;
    Boldi & Vigna 2013 §4): NF(t) = sum_v |B_t(v)| estimated pairs
    within t hops, summed in exact int64 centi-units of the pinned
    round-2 per-node estimates (no float addition-order dependence);
    effective diameter = smallest t with NF(t) >= 0.9 * NF(T).  Same
    per-round cost as q193; each NF(t) is one map-side 1-row sum."""
    from eget_spark.operators.graph import neighborhood_function

    nodes, edges = _arith_edges(spark, sf_dir)
    return neighborhood_function(nodes, edges, p=4, n_rounds=6)


def _q203_sql(p: int = 4, n_rounds: int = 6) -> str:
    nf_rows = "\n  UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS t,"
        f" CAST(sum(CAST(round(e * 100.0, 0) AS BIGINT)) AS BIGINT)"
        f" AS nf_centi FROM est{t}"
        for t in range(n_rounds + 1)
    )
    return (
        _hyperball_sql_ctes(p, n_rounds)
        + f""",
nf AS MATERIALIZED (
  {nf_rows}
),
fin AS (SELECT nf_centi AS nft FROM nf WHERE t = {n_rounds}),
rat AS (
  SELECT t, nf_centi, round(nf_centi / nft, 6) AS ratio
  FROM nf CROSS JOIN fin
),
eff AS (SELECT min(t) AS efft FROM rat WHERE ratio >= 0.9)
SELECT t, nf_centi, ratio, (t = efft) AS is_eff_diameter
FROM rat CROSS JOIN eff
"""
    )


def q204_sitemap_shards(spark, sf_dir):
    """Distributed sitemap GENERATION (sources/sitemaps.sitemap_shards —
    the sink inverse of the q80 parser, sitemaps.org 0.9): the crawl's
    URL set sorted by loc is cut into <=64-URL shards (protocol cap
    50,000, shrunk for the fixture) and each shard's COMPLETE <urlset>
    XML is assembled in the engine — the oracle string_aggs the same
    snippets, so the gate pins the xml column to BYTE parity.  Global
    order via the range-exchange sequencer; assembly one groupBy whose
    partitions are protocol-cap bounded; escaping/concat pure JVM."""
    from eget_spark.sources.sitemaps import sitemap_shards

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    urls = docs.select(
        F.concat(F.lit("https://s.example.org/p/"), d.cast("string")).alias(
            "loc"
        ),
        F.concat(
            F.lit("2026-01-"),
            F.lpad((F.lit(1) + d % 28).cast("string"), 2, "0"),
        ).alias("lastmod"),
    )
    return sitemap_shards(urls, lastmod_col="lastmod", shard_size=64)


_Q204_SQL = r"""
WITH u AS (
  SELECT 'https://s.example.org/p/' || CAST(doc_id AS VARCHAR) AS loc,
         '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
           AS lastmod
  FROM documents
),
r AS (
  SELECT loc, lastmod,
         row_number() OVER (ORDER BY loc) - 1 AS seq,
         '<url><loc>' ||
         replace(replace(replace(replace(replace(loc,
           '&', '&amp;'), '''', '&apos;'), '"', '&quot;'),
           '>', '&gt;'), '<', '&lt;') ||
         '</loc><lastmod>' || lastmod || '</lastmod></url>' AS snip
  FROM u
)
SELECT CAST(seq // 64 AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_urls,
       min(loc) AS first_loc, max(loc) AS last_loc,
       '<?xml version="1.0" encoding="UTF-8"?>' ||
       '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' ||
       string_agg(snip, '' ORDER BY loc) || '</urlset>' AS xml
FROM r GROUP BY seq // 64
"""


def q194_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (operators/cdc.cdc_chunks — LBFS rolling
    hash, FastCDC's modern family): boundaries where the 8-byte
    polynomial hash (P=31, M=2^20) masks to 0 mod 64 — an insertion
    shifts boundaries only locally, so unchanged content re-chunks
    identically across pages and crawls.  One Arrow mapInPandas pass
    (numpy convolution rolling hash; md5 per CHUNK, not per byte); the
    oracle recomputes every boundary byte-by-byte with window lags."""
    from eget_spark.operators.cdc import cdc_chunks

    return cdc_chunks(_t(spark, sf_dir, "documents"))


_CDC_CHUNKS_SQL = r"""
pos AS MATERIALIZED (
  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text FROM documents
),
bytes_ AS MATERIALIZED (
  SELECT doc_id, i, CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT) AS b
  FROM pos
),
h AS (
  SELECT doc_id, i,
    CASE WHEN i >= 8 THEN
      (b
       + 31 * lag(b, 1) OVER w
       + 961 * lag(b, 2) OVER w
       + 29791 * lag(b, 3) OVER w
       + 923521 * lag(b, 4) OVER w
       + 28629151 * lag(b, 5) OVER w
       + 887503681 * lag(b, 6) OVER w
       + 27512614111 * lag(b, 7) OVER w) % 1048576
    END AS hh
  FROM bytes_ WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
cid AS (
  SELECT doc_id, i,
         coalesce(sum(CASE WHEN hh IS NOT NULL AND hh % 64 = 0
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS chunk_idx
  FROM h
),
grp AS (
  SELECT doc_id, chunk_idx, min(i) AS s, CAST(count(*) AS BIGINT) AS chunk_len
  FROM cid GROUP BY doc_id, chunk_idx
),
chunks AS (
  SELECT g.doc_id, CAST(g.chunk_idx AS BIGINT) AS chunk_idx, g.chunk_len,
         md5(substr(d.text, CAST(g.s AS INT), CAST(g.chunk_len AS INT)))
           AS chunk_hash
  FROM grp g JOIN documents d USING (doc_id)
)"""

_Q194_SQL = "WITH " + _CDC_CHUNKS_SQL.lstrip() + """
SELECT doc_id, chunk_idx, chunk_len, chunk_hash FROM chunks
"""


def q195_cdc_dedup_stats(spark, sf_dir):
    """Chunk-store dedup report over q194's content-defined chunks
    (operators/cdc.cdc_dedup_stats): total vs distinct chunks, raw vs
    deduped bytes, savings fraction — the archive-storage planning
    number chunk-level dedup exists for.  Two map-side-combined
    aggregates; no window, no join."""
    from eget_spark.operators.cdc import cdc_chunks, cdc_dedup_stats

    return cdc_dedup_stats(cdc_chunks(_t(spark, sf_dir, "documents")))


_Q195_SQL = "WITH " + _CDC_CHUNKS_SQL.lstrip() + """
, per_hash AS (
  SELECT chunk_hash, CAST(count(*) AS BIGINT) AS _n,
         CAST(min(chunk_len) AS BIGINT) AS _len
  FROM chunks GROUP BY chunk_hash
)
SELECT CAST(sum(_n) AS BIGINT) AS total_chunks,
       CAST(count(*) AS BIGINT) AS distinct_chunks,
       CAST(sum(_n * _len) AS BIGINT) AS total_bytes,
       CAST(sum(_len) AS BIGINT) AS unique_bytes,
       round(1.0 - sum(_len) / CAST(sum(_n * _len) AS DOUBLE), 6) AS savings
FROM per_hash
"""


def q196_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency fit (functions/text.zipf_fit): freq = C *
    rank^(-s) over the corpus term distribution with the same exact
    int64 fixed-point OLS as q191 — natural corpora fit s ~= 1, template
    farms bend the curve.  Rank under (freq DESC, tok) via the range-
    exchange sequencer; the 2-value fit broadcasts back."""
    from eget_spark.functions.text import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), "doc_id", "text",
                    top_n=1000)


_Q196_SQL = r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS t
  FROM documents
),
freq AS (SELECT t AS tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY t),
ranked AS (
  SELECT tok, freq,
         CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank
  FROM freq
),
pts AS (SELECT rank, tok, freq FROM ranked WHERE rank <= 1000),
fx AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6, 0) AS BIGINT) AS xi,
         CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6, 0) AS BIGINT) AS yi
  FROM pts
),
agg AS (
  SELECT count(*) AS n, sum(xi) AS sx, sum(yi) AS sy,
         sum(xi * yi) AS sxy, sum(xi * xi) AS sxx
  FROM fx
),
co AS (
  SELECT round(-(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)), 6) AS zipf_s,
         n, sx, sy
  FROM agg
),
fit AS (
  SELECT zipf_s,
         round((CAST(sy AS DOUBLE) / 1e6
                + zipf_s * (CAST(sx AS DOUBLE) / 1e6))
               / CAST(n AS DOUBLE), 6) AS zipf_lnc
  FROM co
)
SELECT p.rank, p.tok, p.freq, f.zipf_s, f.zipf_lnc
FROM pts p CROSS JOIN fit f
"""


def q197_bowtie(spark, sf_dir):
    """Bow-tie decomposition (operators/graph.bowtie_classes — Broder et
    al. WWW 2000): SCC/IN/OUT/TENDRIL/DISC relative to the max-degree
    pivot, via three 12-round BFS closures (one equi join + one map-side
    distinct per round, localCheckpoint-ed).  Crawl planning reads the
    classes directly: IN∪SCC seeds cover SCC∪OUT, DISC mass is
    unreachable at any budget."""
    from eget_spark.operators.graph import bowtie_classes

    nodes, edges = _arith_edges(spark, sf_dir)
    return bowtie_classes(nodes, edges, n_rounds=12).withColumnRenamed(
        "id", "doc_id"
    )


def _q197_sql(n_rounds: int = 12) -> str:
    def closure(name: str, step: str) -> list[str]:
        blocks = [f"{name}0 AS MATERIALIZED (SELECT n FROM pv)"]
        for t in range(1, n_rounds + 1):
            blocks.append(
                f"""{name}{t} AS MATERIALIZED (
  SELECT DISTINCT n FROM (
    SELECT n FROM {name}{t - 1}
    UNION ALL
    {step.format(prev=f"{name}{t - 1}")}
  )
)"""
            )
        return blocks

    fwd = "SELECT e.dst AS n FROM edges e JOIN {prev} p ON p.n = e.src"
    bwd = "SELECT e.src AS n FROM edges e JOIN {prev} p ON p.n = e.dst"
    und = (
        "SELECT e.dst AS n FROM edges e JOIN {prev} p ON p.n = e.src\n"
        "    UNION ALL\n"
        "    SELECT e.src AS n FROM edges e JOIN {prev} p ON p.n = e.dst"
    )
    blocks = (
        closure("f", fwd) + closure("b", bwd) + closure("w", und)
    )
    return (
        "WITH "
        + _EDGES_SQL.lstrip().removeprefix("WITH ")
        + """,
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT src AS n FROM edges UNION ALL SELECT dst FROM edges)
  GROUP BY n
),
pv AS (SELECT n FROM deg ORDER BY d DESC, n LIMIT 1),
"""
        + ",\n".join(blocks)
        + f"""
SELECT d.doc_id,
       CASE WHEN f.n IS NOT NULL AND b.n IS NOT NULL THEN 'SCC'
            WHEN b.n IS NOT NULL THEN 'IN'
            WHEN f.n IS NOT NULL THEN 'OUT'
            WHEN w.n IS NOT NULL THEN 'TENDRIL'
            ELSE 'DISC' END AS bowtie_class
FROM documents d
LEFT JOIN f{n_rounds} f ON f.n = d.doc_id
LEFT JOIN b{n_rounds} b ON b.n = d.doc_id
LEFT JOIN w{n_rounds} w ON w.n = d.doc_id
"""
    )


def q198_posting_layout(spark, sf_dir):
    """Inverted-index posting-list layout (operators/search.
    posting_list_layout): per-term delta-gap + VByte storage cost of the
    distinct-doc posting lists — the Managing-Gigabytes d-gap/varint
    sizing every search index build starts from.  One distinct, one
    term-partitioned window (partitions = posting lists), one map-side
    sum; no Python."""
    from eget_spark.operators.search import posting_list_layout

    return posting_list_layout(_t(spark, sf_dir, "documents"), "doc_id",
                               "text")


_Q198_SQL = r"""
WITH postings AS (
  SELECT DISTINCT doc_id AS doc,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
gaps AS (
  SELECT tok,
         coalesce(doc - lag(doc) OVER (PARTITION BY tok ORDER BY doc),
                  doc + 1) AS gap
  FROM postings
),
vb AS (
  SELECT tok, gap,
         CASE WHEN gap < 128 THEN 1
              WHEN gap < 16384 THEN 2
              WHEN gap < 2097152 THEN 3
              WHEN gap < 268435456 THEN 4
              ELSE 5 END AS b
  FROM gaps
)
SELECT tok, CAST(count(*) AS BIGINT) AS df_count,
       CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
       CAST(sum(b) AS BIGINT) AS varint_bytes,
       round(1.0 - sum(b) / CAST(count(*) * 8 AS DOUBLE), 6) AS savings
FROM vb GROUP BY tok
"""


def q199_revisit_ledger(spark, sf_dir):
    """WARC revisit LEDGER via the streaming maintainer's delta->merge
    path run in batch form (streaming/revisits.ledger_delta +
    merge_ledger_deltas): the q186 recrawl fixture's captures are split
    into three arbitrary epochs, each epoch aggregated to one
    (url, digest) MIN/COUNT/MAX delta row, and the union merged — the
    oracle is the DIRECT one-pass aggregate, so the gate pins the
    stream==batch merge identity (MIN/SUM/MAX commutativity) itself.
    ``saved_bytes`` is the archive storage revisit records avoid:
    (n_captures - 1) * payload bytes.  Scale shape: per-epoch deltas and
    the merge are all map-side-combined aggregates on (url, digest)."""
    from eget_spark.streaming.revisits import (
        ledger_delta,
        merge_ledger_deltas,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    caps = docs.select(
        F.concat(F.lit("https://rv.example.org/p/"), d.cast("string")).alias(
            "url"
        ),
        F.explode(F.sequence(F.lit(0), (d % 4).cast("int"))).alias("v"),
        d.alias("_d"),
        F.col("text"),
    ).select(
        "url",
        ((F.col("_d") * 100 + F.col("v") * 10) * 1000000).alias("fetch_time"),
        F.encode(
            F.concat(
                F.col("text"),
                F.lit("#v"),
                F.floor(F.col("v") / 2).cast("string"),
            ),
            "utf-8",
        ).alias("payload"),
        (F.col("v") % 3).alias("_epoch"),
    )
    deltas = None
    for e in range(3):
        delta = ledger_delta(
            caps.where(F.col("_epoch") == e).select(
                "url", "payload", "fetch_time"
            )
        )
        deltas = delta if deltas is None else deltas.unionByName(delta)
    return merge_ledger_deltas(deltas)


_Q199_SQL = r"""
WITH caps AS (
  SELECT 'https://rv.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
         (doc_id * 100 + v.q * 10) * 1000000 AS fetch_time,
         text || '#v' || CAST(v.q // 2 AS VARCHAR) AS payload
  FROM documents
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 4)) v
    ON v.q <= doc_id % 4
)
SELECT url, sha256(payload) AS digest,
       CAST(min(fetch_time) AS BIGINT) AS first_time,
       CAST(count(*) AS BIGINT) AS n_captures,
       CAST(max(strlen(payload)) AS BIGINT) AS payload_bytes,
       CAST((count(*) - 1) * max(strlen(payload)) AS BIGINT)
         AS saved_bytes
FROM caps GROUP BY url, sha256(payload)
"""


def q200_lpa_communities(spark, sf_dir):
    """Community detection by deterministic synchronous label propagation
    (operators/graph.label_propagation — Raghavan et al. 2007, smallest-
    label tie-break, 6 pinned bulk-synchronous rounds) over the analytics
    link graph: communities drive crawl sharding (co-host strongly-linked
    sites) and mirror-network triage.  Per round: one neighbor-label hash
    join + two map-side-combined aggregates (vote count, then argmax via
    max(struct)) — no window anywhere."""
    from eget_spark.operators.graph import label_propagation

    nodes, edges = _arith_edges(spark, sf_dir)
    return label_propagation(nodes, edges, n_rounds=6).withColumnRenamed(
        "id", "doc_id"
    )


def _lpa_ctes(n_rounds: int = 6) -> str:
    """The shared WITH-body for the LPA fixture: arith edges -> simple
    undirected graph (und) -> neighbor list (sym) -> labels l0..lK."""
    blocks = ["l0 AS MATERIALIZED (SELECT doc_id AS n, doc_id AS lab FROM documents)"]
    for t in range(1, n_rounds + 1):
        blocks.append(
            f"""l{t} AS MATERIALIZED (
  SELECT l.n, CAST(COALESCE(w.lab, l.lab) AS BIGINT) AS lab
  FROM l{t - 1} l LEFT JOIN (
    SELECT n, lab FROM (
      SELECT s.n, x.lab, count(*) AS c,
             row_number() OVER (PARTITION BY s.n
                                ORDER BY count(*) DESC, x.lab) AS rn
      FROM sym s JOIN l{t - 1} x ON x.n = s.nb
      GROUP BY s.n, x.lab
    ) WHERE rn = 1
  ) w ON w.n = l.n
)"""
        )
    return (
        _EDGES_SQL.lstrip()
        + """,
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
sym AS MATERIALIZED (
  SELECT a AS n, b AS nb FROM und UNION ALL SELECT b, a FROM und
),
"""
        + ",\n".join(blocks)
    )


def _q200_sql(n_rounds: int = 6) -> str:
    return (
        "WITH "
        + _lpa_ctes(n_rounds)
        + f"""
SELECT CAST(n AS BIGINT) AS doc_id, lab AS community FROM l{n_rounds}
"""
    )


def q202_modularity(spark, sf_dir):
    """Newman modularity of the q200 LPA communities
    (operators/graph.community_modularity — Newman & Girvan 2004):
    per-community intra-edge count, degree mass, and the exact int64
    fixed-point contribution (e_c*S) div m - (deg_c^2*S) div (4m^2) in
    units of 1e-12 — the quality eval paired with q200 the way q117/q169
    pair recall evals with the LSH/ANN indexes.  Two equi hash joins +
    two map-side-combined aggregates over the simple graph; the only
    1-row plan is the broadcast total-edge count."""
    from eget_spark.operators.graph import (
        community_modularity,
        label_propagation,
    )

    nodes, edges = _arith_edges(spark, sf_dir)
    labels = label_propagation(nodes, edges, n_rounds=6)
    return community_modularity(labels, edges)


def _q202_sql(n_rounds: int = 6, scale: int = 10**12) -> str:
    return (
        "WITH "
        + _lpa_ctes(n_rounds)
        + f""",
lab AS MATERIALIZED (SELECT n, lab AS community FROM l{n_rounds}),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
tag AS (
  SELECT la.community AS ca, lb.community AS cb
  FROM und u JOIN lab la ON la.n = u.a JOIN lab lb ON lb.n = u.b
),
intra AS (
  SELECT ca AS community, CAST(count(*) AS BIGINT) AS intra_edges
  FROM tag WHERE ca = cb GROUP BY ca
),
deg AS (
  SELECT lab.community, CAST(count(*) AS BIGINT) AS degree_sum
  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und) e
  JOIN lab ON lab.n = e.n GROUP BY lab.community
),
sizes AS (
  SELECT community, CAST(count(*) AS BIGINT) AS n_nodes
  FROM lab GROUP BY community
)
SELECT s.community, s.n_nodes,
       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       CAST(COALESCE(d.degree_sum, 0) AS BIGINT) AS degree_sum,
       CAST((COALESCE(i.intra_edges, 0) * {scale}) // m
            - (COALESCE(d.degree_sum, 0) * COALESCE(d.degree_sum, 0)
               * {scale}) // (4 * m * m) AS BIGINT) AS modularity_fp
FROM sizes s
LEFT JOIN intra i ON i.community = s.community
LEFT JOIN deg d ON d.community = s.community
CROSS JOIN mm
"""
    )


def q205_community_fetcher_shards(spark, sf_dir):
    """Whole-community fetcher sharding (operators/assign.snake_pack over
    the q200 LPA communities): communities ranked by (size DESC, id) are
    snake-dealt onto 8 fetchers — the deterministic LPT-style balancer
    for units that must stay whole (a community's strongly-linked hosts
    share one fetcher's politeness clocks and connection pools), where
    per-host rendezvous hashing (q174) cannot keep groups together.
    Per-fetcher rollup: community count, total node load, heaviest rank.
    Rank via the range-exchange sequencer; snake is per-row modular
    arithmetic; rollup one map-side-combined aggregate."""
    from eget_spark.operators.assign import snake_pack
    from eget_spark.operators.graph import label_propagation

    nodes, edges = _arith_edges(spark, sf_dir)
    sizes = (
        label_propagation(nodes, edges, n_rounds=6)
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    packed = snake_pack(sizes, "n_nodes", k=8, id_col="community")
    return packed.groupBy("worker").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum("weight").cast("long").alias("n_nodes_total"),
        F.min("rank").cast("long").alias("top_rank"),
    )


def _q205_sql(n_rounds: int = 6, k: int = 8) -> str:
    return (
        "WITH "
        + _lpa_ctes(n_rounds)
        + f""",
sizes AS (
  SELECT lab AS community, CAST(count(*) AS BIGINT) AS w
  FROM l{n_rounds} GROUP BY lab
),
rk AS (
  SELECT community, w,
         row_number() OVER (ORDER BY w DESC, community) - 1 AS r
  FROM sizes
),
sn AS (
  SELECT w, r,
         CAST(CASE WHEN (r // {k}) % 2 = 0 THEN r % {k}
                   ELSE {k - 1} - (r % {k}) END AS INT) AS worker
  FROM rk
)
SELECT worker, CAST(count(*) AS BIGINT) AS n_communities,
       CAST(sum(w) AS BIGINT) AS n_nodes_total,
       CAST(min(r) + 1 AS BIGINT) AS top_rank
FROM sn GROUP BY worker
"""
    )


def q206_assortativity(spark, sf_dir):
    """Degree assortativity of the analytics link graph (operators/
    graph.degree_assortativity — Newman PRL 2002 eq. 4): exact int64
    sufficient statistics S1/S2/S3 with ONE final rounded division, so
    no float accumulation-order dependence; r < 0 = the web's usual
    hub-to-leaf disassortative shape (link farms push it further
    negative).  Two equi joins + one map-side total; the 1-row output
    is the inherent reduction."""
    from eget_spark.operators.graph import degree_assortativity

    _, edges = _arith_edges(spark, sf_dir)
    return degree_assortativity(edges)


_Q206_SQL = (
    "WITH "
    + _EDGES_SQL.lstrip().removeprefix("WITH ")
    + r""",
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY n
),
tag AS (
  SELECT da.d AS j, db.d AS k
  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS m_edges,
         CAST(sum(j * k) AS BIGINT) AS s_jk,
         CAST(sum(j + k) AS BIGINT) AS s_sum,
         CAST(sum(j * j + k * k) AS BIGINT) AS s_sq
  FROM tag
)
SELECT m_edges, s_jk, s_sum, s_sq,
       CASE WHEN (2 * m_edges * s_sq - s_sum * s_sum) <> 0 THEN
         round((4 * m_edges * s_jk - s_sum * s_sum)
               / (2 * m_edges * s_sq - s_sum * s_sum), 6)
       END AS assortativity
FROM st
"""
)


def q208_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (operators/search.rrf_fuse — Cormack et
    al. SIGIR 2009, k=60): the q74 BM25 top-20, the q201 BM25F top-20,
    and the link-authority in-degree top-20 fused on RANKS alone — the
    standard zero-training way to combine lexical relevance with link
    evidence, robust because incomparable scores never cross the
    boundary.  Reciprocal terms sum in fixed list order (no float
    accumulation-order dependence); the rank window sees only the fused
    short list."""
    from eget_spark.operators.search import bm25_topk, bm25f_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    terms = ["spark", "window", "merge"]
    r1 = bm25_topk(docs, "doc_id", "text", terms).select("doc_id", "rnk")
    r2 = bm25f_topk(docs, "doc_id", "text", terms).select("doc_id", "rnk")
    _, edges = _arith_edges(spark, sf_dir)
    ind = (
        edges.groupBy(F.col("dst").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .orderBy(F.col("_c").desc(), "doc_id")
        .limit(20)
    )
    from pyspark.sql.window import Window as _W

    r3 = ind.withColumn(
        "rnk",
        F.row_number()
        .over(_W.orderBy(F.col("_c").desc(), "doc_id"))
        .cast("int"),
    ).select("doc_id", "rnk")
    return rrf_fuse([r1, r2, r3], k=60)


def _q208_sql() -> str:
    return f"""
WITH b1 AS (SELECT doc_id, rnk FROM ({_Q74_SQL})),
b2 AS (SELECT doc_id, rnk FROM ({_Q201_SQL})),
b3 AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS INT)
           AS rnk
  FROM (
    SELECT dst AS doc_id, count(*) AS c
    FROM ({{edges}}) GROUP BY dst
    ORDER BY c DESC, doc_id LIMIT 20
  )
),
fused AS (
  SELECT doc_id,
         round(COALESCE(1.0 / (60.0 + b1.rnk), 0.0)
             + COALESCE(1.0 / (60.0 + b2.rnk), 0.0)
             + COALESCE(1.0 / (60.0 + b3.rnk), 0.0), 6) AS score
  FROM b1 FULL JOIN b2 USING (doc_id) FULL JOIN b3 USING (doc_id)
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
FROM fused
""".replace(
        "{edges}",
        "WITH " + _EDGES_SQL.lstrip().removeprefix("WITH ")
        + " SELECT src, dst FROM edges",
    )


def q209_typosquats(spark, sf_dir):
    """Typosquat candidate pairs (operators/mirrors.typosquat_pairs —
    Szurdi et al. USENIX Sec'14 lexical tripwire): registrable domains
    within Levenshtein distance 1, blocked on the 2-char prefix so the
    quadratic stays inside one bucket; JVM levenshtein is exact integer,
    engine-identical.  Fixture: every doc maps to site<k>.example with
    deterministic insertion ('sitte') and substitution ('sige') typo
    variants, so the pair set is closed-form."""
    from eget_spark.operators.mirrors import typosquat_pairs

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    k = (d % 40).cast("string")
    dom = (
        F.when(d % 5 == 0, F.concat(F.lit("sitte"), k, F.lit(".example")))
        .when(d % 7 == 0, F.concat(F.lit("sige"), k, F.lit(".example")))
        .otherwise(F.concat(F.lit("site"), k, F.lit(".example")))
    )
    return typosquat_pairs(docs.select(dom.alias("domain")))


_Q209_SQL = r"""
WITH doms AS (
  SELECT DISTINCT
    CASE WHEN doc_id % 5 = 0
           THEN 'sitte' || CAST(doc_id % 40 AS VARCHAR) || '.example'
         WHEN doc_id % 7 = 0
           THEN 'sige' || CAST(doc_id % 40 AS VARCHAR) || '.example'
         ELSE 'site' || CAST(doc_id % 40 AS VARCHAR) || '.example'
    END AS d
  FROM documents
),
b AS (SELECT d, substr(d, 1, 2) AS blk FROM doms)
SELECT a.d AS domain_a, c.d AS domain_b,
       CAST(levenshtein(a.d, c.d) AS INT) AS dist
FROM b a JOIN b c
  ON a.blk = c.blk AND a.d < c.d
 AND abs(length(a.d) - length(c.d)) <= 1
WHERE levenshtein(a.d, c.d) <= 1
"""


def q210_spam_mass(spark, sf_dir):
    """Relative link-spam mass (operators/graph.spam_mass — Gyöngyi et
    al. VLDB 2006): the PageRank fraction not explained by TrustRank,
    ``(max(PR - TR, 0) * 1e6) div PR`` over the q40/q138 int64
    fixed-point vectors (clamped nonnegative so div truncation == floor
    on both engines).  High PR + mass near 1e6 = the link-farm
    fingerprint a priority crawl demotes.  One equi join + projection
    on top of the two rank loops."""
    from eget_spark.operators.graph import (
        pagerank_fixed,
        spam_mass,
        trustrank_fixed,
    )

    nodes, edges = _arith_edges(spark, sf_dir)
    pr = pagerank_fixed(nodes, edges, n_iter=5)
    tr = trustrank_fixed(
        nodes, edges, nodes.where(F.col("id") % 17 == 0), n_iter=5
    )
    return spam_mass(pr, tr).withColumnRenamed("id", "doc_id")


def _q210_sql() -> str:
    return f"""
WITH b1 AS (SELECT doc_id, pr_fp FROM ({_q40_sql()})),
b2 AS (SELECT doc_id, tr_fp FROM ({_q138_sql()}))
SELECT doc_id, pr_fp, tr_fp,
       CAST((greatest(pr_fp - tr_fp, 0) * 1000000) // pr_fp AS BIGINT)
         AS rel_mass_fp
FROM b1 JOIN b2 USING (doc_id)
"""


def q211_capacity_plan(spark, sf_dir):
    """Frontier capacity planner (operators/capacity.
    frontier_capacity_plan): Bloom bits/hashes (Bloom 1970 optimal
    sizing), cuckoo fingerprint bits and pow2 bucket count (Fan et al.
    2014, 4-slot buckets at 95% load), and the shuffle partition count
    for n = |distinct URLs| at target FPRs 10^-2..10^-4.  EVERY integer
    column is pinned-constant micro-unit arithmetic (ln10/ln2/ln2^2 as
    integer constants, next-pow2 by bit smear) — no libm in any
    ceil/round path, bit-exact cross-engine by construction.  One count
    reduction + a literal explode; pure projection after."""
    from eget_spark.operators.capacity import frontier_capacity_plan

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(F.lit("https://c.example.org/p/"),
                 F.col("doc_id").cast("string")).alias("url")
    )
    return frontier_capacity_plan(urls)


_Q211_SQL = r"""
WITH n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_urls
  FROM (SELECT DISTINCT 'https://c.example.org/p/' ||
               CAST(doc_id AS VARCHAR) FROM documents)
),
rows_ AS (
  SELECT n_urls, CAST(k.q AS INT) AS target_fpr_exp
  FROM n JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(2, 5)) k ON TRUE
),
b AS (
  SELECT *,
    CAST(n_urls * target_fpr_exp * 2302585 // 480453
         + CASE WHEN (n_urls * target_fpr_exp * 2302585) % 480453 = 0
                THEN 0 ELSE 1 END AS BIGINT) AS bloom_bits,
    CAST(3 + (target_fpr_exp * 3321928 // 1000000)
         + CASE WHEN (target_fpr_exp * 3321928) % 1000000 = 0
                THEN 0 ELSE 1 END AS BIGINT) AS cuckoo_fp_bits,
    CAST(n_urls * 100 // 380
         + CASE WHEN (n_urls * 100) % 380 = 0 THEN 0 ELSE 1 END
         AS BIGINT) AS rb,
    CAST(n_urls // 4000000
         + CASE WHEN n_urls % 4000000 = 0 THEN 0 ELSE 1 END
         AS BIGINT) AS shuffle_partitions
  FROM rows_
),
h AS (
  SELECT *,
    CAST((bloom_bits * 693147 + n_urls * 500000) // (n_urls * 1000000)
         AS BIGINT) AS bloom_hashes
  FROM b
),
sm AS (
  SELECT *, CAST(rb - 1 AS BIGINT) AS y0 FROM h
),
sm1 AS (SELECT *, CAST(y0 | (y0 >> 1) AS BIGINT) AS y1 FROM sm),
sm2 AS (SELECT *, CAST(y1 | (y1 >> 2) AS BIGINT) AS y2 FROM sm1),
sm3 AS (SELECT *, CAST(y2 | (y2 >> 4) AS BIGINT) AS y3 FROM sm2),
sm4 AS (SELECT *, CAST(y3 | (y3 >> 8) AS BIGINT) AS y4 FROM sm3),
sm5 AS (SELECT *, CAST(y4 | (y4 >> 16) AS BIGINT) AS y5 FROM sm4),
sm6 AS (SELECT *, CAST(y5 | (y5 >> 32) AS BIGINT) AS y6 FROM sm5),
fin AS (
  SELECT *,
    CAST(CASE WHEN rb <= 1 THEN 1 ELSE y6 + 1 END AS BIGINT)
      AS cuckoo_buckets
  FROM sm6
)
SELECT target_fpr_exp, n_urls, bloom_bits, bloom_hashes,
       round(bloom_bits / (8.0 * 1024 * 1024), 3) AS bloom_mib,
       cuckoo_fp_bits, cuckoo_buckets,
       round((cuckoo_buckets * 4 * cuckoo_fp_bits) / (8.0 * 1024 * 1024), 3)
         AS cuckoo_mib,
       shuffle_partitions
FROM fin
"""


def q212_katz(spark, sf_dir):
    """Katz centrality over the analytics link graph (operators/graph.
    katz_fixed): attenuated path-count prestige x_k = 1 + alpha*A^T
    x_{k-1}, 6 iterations at the rational alpha = 1/8, int64 units of
    1e-9 — the un-normalized complement to q40's PageRank (a hub's
    endorsement is NOT diluted by its fan-out).  Bit-exact vs the
    unrolled-CTE oracle: integer sums commute and div on nonnegative
    operands is floor on both engines."""
    from eget_spark.operators.graph import katz_fixed

    nodes, edges = _arith_edges(spark, sf_dir)
    k = katz_fixed(nodes, edges, n_iter=6, alpha_num=1, alpha_den=8,
                   scale=10**9)
    return k.select(F.col("id").alias("doc_id"), "katz_fp")


def _q212_sql(n_iter: int = 6, alpha_num: int = 1, alpha_den: int = 8,
              scale: int = 10**9) -> str:
    parts = [
        "WITH ",
        _EDGES_SQL.lstrip(),
        f",\nk0 AS (SELECT doc_id AS id, CAST({scale} AS BIGINT) AS katz_fp"
        " FROM documents)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
k{i} AS (
  SELECT d.doc_id AS id,
         CAST({scale} + ({alpha_num} * coalesce(s.v, 0)) // {alpha_den}
           AS BIGINT) AS katz_fp
  FROM documents d LEFT JOIN (
    SELECT e.dst AS id, sum(k.katz_fp) AS v
    FROM edges e JOIN k{i-1} k ON k.id = e.src GROUP BY e.dst) s
  ON s.id = d.doc_id)"""
        )
    parts.append(f"\nSELECT id AS doc_id, katz_fp FROM k{n_iter}")
    return "".join(parts)


def q213_salsa(spark, sf_dir):
    """SALSA hubs & authorities over the analytics link graph
    (operators/graph.salsa_fixed): Lempel & Moran's degree-normalized
    alternating random walk — the TKC-resistant production variant of
    q84's HITS (Twitter WTF runs this chain).  4 iterations from the
    uniform authority vector, every per-edge term an independent int64
    floor division (a div in_deg, h div out_deg), mass-preserving so
    there is no HITS-style overflow clock.  Bit-exact vs the
    unrolled-CTE oracle."""
    from eget_spark.operators.graph import salsa_fixed

    nodes, edges = _arith_edges(spark, sf_dir)
    s = salsa_fixed(nodes, edges, n_iter=4, scale=10**12)
    return s.select(F.col("id").alias("doc_id"), "auth_fp", "hub_fp")


def _q213_sql(n_iter: int = 4, scale: int = 10**12) -> str:
    parts = [
        "WITH ",
        _EDGES_SQL.lstrip(),
        ",\ndi AS (SELECT dst, count(*) AS d FROM edges GROUP BY dst)",
        ",\ndo_ AS (SELECT src, count(*) AS d FROM edges GROUP BY src)",
        f",\na0 AS (SELECT doc_id AS id, CAST({scale} AS BIGINT) AS a"
        " FROM documents)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
h{i} AS (
  SELECT d.doc_id AS id, CAST(coalesce(s.v, 0) AS BIGINT) AS h
  FROM documents d LEFT JOIN (
    SELECT e.src AS id, sum(a.a // di.d) AS v
    FROM edges e JOIN di ON di.dst = e.dst JOIN a{i-1} a ON a.id = e.dst
    GROUP BY e.src) s ON s.id = d.doc_id),
a{i} AS (
  SELECT d.doc_id AS id, CAST(coalesce(s.v, 0) AS BIGINT) AS a
  FROM documents d LEFT JOIN (
    SELECT e.dst AS id, sum(h.h // do_.d) AS v
    FROM edges e JOIN do_ ON do_.src = e.src JOIN h{i} h ON h.id = e.src
    GROUP BY e.dst) s ON s.id = d.doc_id)"""
        )
    parts.append(
        f"\nSELECT a{n_iter}.id AS doc_id, a{n_iter}.a AS auth_fp,"
        f" h{n_iter}.h AS hub_fp FROM a{n_iter}"
        f" JOIN h{n_iter} ON h{n_iter}.id = a{n_iter}.id"
    )
    return "".join(parts)


_Q214_WORKERS = [f"f{i}" for i in range(8)]
_Q214_WITHOUT = [w for w in _Q214_WORKERS if w != "f3"]


def q214_ring_assign(spark, sf_dir):
    """Consistent-hash ring fetcher assignment (operators/assign.
    ring_assign, Karger STOC'97 / Dynamo SOSP'07 vnode form): each of 8
    fetchers plants 8 virtual points; a host's owner is the clockwise
    successor of md5_60bit(host).  The query also re-assigns with f3
    removed and flags movers — the consistent-hashing contract (ONLY
    f3's hosts move) is visible in the result.  Ring points are
    driver-side literals shared verbatim with the SQL oracle; both
    engines hash only the host (identical md5), so the assignment is
    bit-exact cross-engine.  Projection-only: no join, no shuffle
    beyond the host rollup."""
    from eget_spark.operators.assign import ring_assign

    docs = _t(spark, sf_dir, "documents")
    hosts = (
        docs.select(
            F.concat(
                F.lit("h"), ((F.col("doc_id") * F.col("doc_id")) % 31)
                .cast("string"), F.lit(".example.org")
            ).alias("host")
        )
        .groupBy("host")
        .agg(F.count("*").cast("long").alias("n_urls"))
    )
    r = ring_assign(hosts, "host", _Q214_WORKERS, vnodes=8, out_col="owner_8")
    r = ring_assign(r, "host", _Q214_WITHOUT, vnodes=8, out_col="owner_7")
    return r.select(
        "host",
        "n_urls",
        "owner_8",
        "owner_7",
        (F.col("owner_8") != F.col("owner_7")).alias("moved"),
    )


def _q214_sql() -> str:
    from eget_spark.operators.assign import ring_points

    def case_of(workers):
        pts = ring_points(workers, vnodes=8)
        whens = " ".join(
            f"WHEN h <= {pos} THEN '{w}'" for pos, w in pts
        )
        return f"CASE {whens} ELSE '{pts[0][1]}' END"

    return f"""
WITH k AS (
  SELECT 'h' || CAST((doc_id*doc_id) % 31 AS VARCHAR) || '.example.org'
           AS host
  FROM documents
),
hosts AS (SELECT host, CAST(count(*) AS BIGINT) AS n_urls FROM k GROUP BY host),
hashed AS (
  SELECT host, n_urls,
         CAST(('0x' || substr(md5(host), 1, 15)) AS BIGINT) AS h
  FROM hosts
),
owned AS (
  SELECT host, n_urls,
         {case_of(_Q214_WORKERS)} AS owner_8,
         {case_of(_Q214_WITHOUT)} AS owner_7
  FROM hashed
)
SELECT host, n_urls, owner_8, owner_7, owner_8 <> owner_7 AS moved
FROM owned
"""


def q215_anchor_bm25(spark, sf_dir):
    """Anchor-text search (operators/search.anchor_bm25_topk, Craswell/
    Hawking/Robertson SIGIR 2001): each link target is ranked by BM25
    over the pseudo-document of its in-links' anchor tokens — the
    navigational-query signal a content index misses.  Anchors are built
    two-token ('a'||src%5 || ' b'||src%7) so tf, df and the length norm
    are all non-trivial; query = [a3, b2, b5], k=20.  Pseudo-docs are
    never materialized: tokens explode straight to ONE map-side-combined
    per-target rollup (a 10^8-in-link homepage costs a combiner cell),
    then the shared BM25 tail (broadcast stats + TakeOrdered).  Oracle
    computes the same tf/dl directly from the edge arithmetic."""
    from eget_spark.functions.spans import link_anchor_pairs
    from eget_spark.operators.search import anchor_bm25_topk

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    d = F.col("doc_id")
    url = lambda c: F.concat(F.lit("https://crawl.test/p/"), c.cast("string"))
    anchor = F.concat(
        F.lit("a"), (d % 5).cast("string"),
        F.lit(" b"), (d % 7).cast("string"),
    )
    mk = lambda dst, off: F.struct(
        F.lit("link").alias("kind"),
        anchor.alias("text"),
        url(dst).alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    corp = docs.select(
        F.array(
            mk((d * 7 + 13) % n, 0),
            mk((d * 11 + 5) % n, 1),
            mk((d * 13 + 7) % n, 2),
        ).alias("spans")
    )
    pairs = corp.select(
        F.explode(link_anchor_pairs(F.col("spans"))).alias("p")
    ).select(F.col("p.target").alias("target"), F.col("p.anchor").alias("anchor"))
    return anchor_bm25_topk(pairs, ["a3", "b2", "b5"], k=20)


_Q215_SQL = r"""
WITH n AS (SELECT count(*) AS c FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id*7+13) % (SELECT c FROM n) AS dst FROM documents
  UNION ALL SELECT doc_id, (doc_id*11+5) % (SELECT c FROM n) FROM documents
  UNION ALL SELECT doc_id, (doc_id*13+7) % (SELECT c FROM n) FROM documents
),
p AS (
  SELECT 'https://crawl.test/p/' || CAST(dst AS VARCHAR) AS target,
         src % 5 AS a5, src % 7 AS b7
  FROM e
),
base AS (
  SELECT target, CAST(2 * count(*) AS BIGINT) AS dl,
         CAST(sum(CASE WHEN a5 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS tf0,
         CAST(sum(CASE WHEN b7 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
         CAST(sum(CASE WHEN b7 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS tf2
  FROM p GROUP BY target
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl,
         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM base
),
scored AS (
  SELECT target,
         round(
           (CASE WHEN tf0 > 0 THEN
             ((ln(1.0 + ((n - df0) + 0.5) / (df0 + 0.5)) * tf0) * 2.2)
               / (tf0 + 1.2 * (0.25 + (0.75 * dl) / (sumdl / n)))
            ELSE 0.0 END)
         + (CASE WHEN tf1 > 0 THEN
             ((ln(1.0 + ((n - df1) + 0.5) / (df1 + 0.5)) * tf1) * 2.2)
               / (tf1 + 1.2 * (0.25 + (0.75 * dl) / (sumdl / n)))
            ELSE 0.0 END)
         + (CASE WHEN tf2 > 0 THEN
             ((ln(1.0 + ((n - df2) + 0.5) / (df2 + 0.5)) * tf2) * 2.2)
               / (tf2 + 1.2 * (0.25 + (0.75 * dl) / (sumdl / n)))
            ELSE 0.0 END), 6) AS score
  FROM base CROSS JOIN st
)
SELECT target, score,
       CAST(row_number() OVER (ORDER BY score DESC, target) AS INT) AS rnk
FROM (SELECT * FROM scored WHERE score > 0 ORDER BY score DESC, target LIMIT 20)
"""


def q216_ql_dirichlet(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood ranking (operators/search.
    ql_dirichlet_topk, Zhai & Lafferty SIGIR 2001) over the document
    corpus — the language-modeling retrieval family next to q74 BM25 /
    q201 BM25F / q208 RRF, same query terms as q74 so the two families
    are directly comparable.  mu=2000, k=20; every doc scores (negative
    log-probability), unseen terms pinned dropped; round-6 + id ties
    make the ranking cross-engine exact.  Same zero-wide-shuffle shape
    as BM25 (array-filter tf, 1-row broadcast stats, TakeOrdered)."""
    from eget_spark.operators.search import ql_dirichlet_topk

    docs = _t(spark, sf_dir, "documents")
    return ql_dirichlet_topk(
        docs, "doc_id", "text", ["spark", "window", "merge"], mu=2000.0, k=20
    )


_Q216_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
base AS (
  SELECT doc_id, CAST(length(l) AS BIGINT) AS dl,
         CAST(length(list_filter(l, x -> x = 'spark'))  AS BIGINT) AS tf0,
         CAST(length(list_filter(l, x -> x = 'window')) AS BIGINT) AS tf1,
         CAST(length(list_filter(l, x -> x = 'merge'))  AS BIGINT) AS tf2
  FROM d
),
st AS (
  SELECT CAST(sum(dl) AS BIGINT) AS sumdl,
         CAST(sum(tf0) AS BIGINT) AS ctf0,
         CAST(sum(tf1) AS BIGINT) AS ctf1,
         CAST(sum(tf2) AS BIGINT) AS ctf2
  FROM base
),
scored AS (
  SELECT doc_id,
         round(
           (CASE WHEN ctf0 > 0 THEN
             ln((tf0 + 2000.0 * ctf0 / sumdl) / (dl + 2000.0)) ELSE 0.0 END)
         + (CASE WHEN ctf1 > 0 THEN
             ln((tf1 + 2000.0 * ctf1 / sumdl) / (dl + 2000.0)) ELSE 0.0 END)
         + (CASE WHEN ctf2 > 0 THEN
             ln((tf2 + 2000.0 * ctf2 / sumdl) / (dl + 2000.0)) ELSE 0.0 END),
           6) AS score
  FROM base CROSS JOIN st
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
"""


def q217_frontier_exhaustion(spark, sf_dir):
    """Good-Turing frontier-exhaustion dial (operators/recrawl.
    frontier_exhaustion, Good 1953): per host, p(next harvested link is
    NEW) ~= singleton-URL sightings / total sightings, in exact ppm
    integer arithmetic.  Sightings come from the three non-bijective
    link maps (quadratic pileup makes multiplicities non-trivial); the
    dynamic companion to q144's capture-recapture site sizing.  Two
    map-side-combined aggregations, no window, no join."""
    from eget_spark.operators.recrawl import frontier_exhaustion

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    d = F.col("doc_id")
    mk = lambda expr: docs.select(
        F.concat(F.lit("h"), ((expr % n) % 20).cast("string")).alias("host"),
        F.concat(F.lit("https://crawl.test/p/"), (expr % n).cast("string"))
        .alias("url"),
    )
    sightings = (
        mk(d * 7 + 13).unionAll(mk(d * d * 3 + 5)).unionAll(mk(d * d + d * 5 + 11))
    )
    return frontier_exhaustion(sightings, "host", "url")


_Q217_SQL = r"""
WITH n AS (SELECT count(*) AS c FROM documents),
s AS (
  SELECT (doc_id*7+13) % (SELECT c FROM n) AS dst FROM documents
  UNION ALL SELECT (doc_id*doc_id*3+5) % (SELECT c FROM n) FROM documents
  UNION ALL SELECT (doc_id*doc_id+doc_id*5+11) % (SELECT c FROM n) FROM documents
),
sight AS (
  SELECT 'h' || CAST(dst % 20 AS VARCHAR) AS host,
         'https://crawl.test/p/' || CAST(dst AS VARCHAR) AS url
  FROM s
),
per_url AS (SELECT host, url, count(*) AS cnt FROM sight GROUP BY host, url)
SELECT host,
       CAST(sum(cnt) AS BIGINT) AS n_obs,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singletons,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1000000
            // sum(cnt) AS BIGINT) AS p_new_ppm
FROM per_url GROUP BY host
"""


def q218_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (operators/dedup.winnow_profile,
    Schleimer/Wilkerson/Aiken SIGMOD 2003 — MOSS): every window of w=4
    consecutive token-5-gram hashes selects its rightmost minimum; the
    distinct selections are the fingerprint, catching ANY shared run of
    >= w+k-1 tokens with certainty (the local guarantee minhash/simhash
    lack).  Rightmost-min is ONE integer min over the packed key
    h*2^20 + (2^20-1-pos) — no struct ordering, engine-identical.
    Output: per-doc selection count, position-weighted checksum (a
    plain sum is permutation-invariant; a wrong tie-break must fail the
    value compare), and max selected position."""
    from eget_spark.operators.dedup import winnow_profile

    docs = _t(spark, sf_dir, "documents")
    p = winnow_profile(docs, "doc_id", "text", k=5, w=4)
    return p.select(
        F.col("id").alias("doc_id"), "n_selected", "checksum", "max_pos"
    )


_Q218_SQL = r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
              ELSE list_transform(range(len(toks) - 4),
                     i -> array_to_string(list_slice(toks, i + 1, i + 5), ' '))
         END AS gs
  FROM t
),
k AS (
  SELECT doc_id,
         list_transform(
           range(len(gs)),
           i -> CAST(('0x' || substr(md5(list_extract(gs, i + 1)), 1, 8))
                     AS BIGINT) * 1048576 + (1048575 - i)) AS ks
  FROM g
),
sel AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(greatest(len(ks) - 4, 0) + 1),
             s -> list_min(list_slice(ks, s + 1, s + 4)))) AS d
  FROM k
)
SELECT doc_id,
       CAST(len(d) AS BIGINT) AS n_selected,
       CAST(list_aggregate(
              list_transform(d, x -> (x // 1048576)
                                      * ((1048575 - x % 1048576) + 1)),
              'sum') AS BIGINT) AS checksum,
       CAST(list_aggregate(
              list_transform(d, x -> 1048575 - x % 1048576),
              'max') AS BIGINT) AS max_pos
FROM sel
"""


def q219_winnow_pairs(spark, sf_dir):
    """MOSS match detection (operators/dedup.winnow_pairs): inverted-
    index self-join over the q218 winnowing fingerprints, too-common
    fingerprints (df > 10) dropped before the join (the paper's common-
    substring suppression and the quadratic-bucket skew guard), pairs
    reporting distinct shared hashes (>= 2).  The certainty-based member
    of the near-dup pair family next to q14 minhash-LSH / q31 simhash /
    q91 containment."""
    from eget_spark.operators.dedup import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_pairs(
        docs, "doc_id", "text", k=5, w=4, max_df=10, min_shared=2
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
             "n_shared")


_Q219_SQL = r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
              ELSE list_transform(range(len(toks) - 4),
                     i -> array_to_string(list_slice(toks, i + 1, i + 5), ' '))
         END AS gs
  FROM t
),
k AS (
  SELECT doc_id,
         list_transform(
           range(len(gs)),
           i -> CAST(('0x' || substr(md5(list_extract(gs, i + 1)), 1, 8))
                     AS BIGINT) * 1048576 + (1048575 - i)) AS ks
  FROM g
),
sel AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(greatest(len(ks) - 4, 0) + 1),
             s -> list_min(list_slice(ks, s + 1, s + 4)))) AS d
  FROM k
),
fpx AS (SELECT doc_id, unnest(d) AS key FROM sel),
fp AS (SELECT DISTINCT doc_id, key // 1048576 AS h FROM fpx),
dfc AS (SELECT h, count(*) AS dfn FROM fp GROUP BY h),
kept AS (
  SELECT fp.doc_id, fp.h FROM fp JOIN dfc ON dfc.h = fp.h WHERE dfn <= 10
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b HAVING count(*) >= 2
"""


def q220_ef_postings(spark, sf_dir):
    """Elias-Fano posting-list sizing (operators/search.
    ef_posting_layout, Vigna WSDM 2013 quasi-succinct indices) next to
    q198's VByte layout: ef_bits = n*l + n + (U >> l) with
    l = floor(log2(U div n)) computed by BIN-STRING LENGTH (exact where
    float log2 has power-of-two ulp risk) and an integer shift — no
    libm.  Byte-aligned VByte floors at 8 bits/posting; EF's ~2+l
    routinely beats it, and the report shows where."""
    from eget_spark.operators.search import ef_posting_layout

    return ef_posting_layout(_t(spark, sf_dir, "documents"), "doc_id",
                             "text")


_Q220_SQL = r"""
WITH postings AS (
  SELECT DISTINCT doc_id AS doc,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
gaps AS (
  SELECT tok,
         coalesce(doc - lag(doc) OVER (PARTITION BY tok ORDER BY doc),
                  doc + 1) AS gap
  FROM postings
),
vb AS (
  SELECT tok, gap,
         CASE WHEN gap < 128 THEN 1
              WHEN gap < 16384 THEN 2
              WHEN gap < 2097152 THEN 3
              WHEN gap < 268435456 THEN 4
              ELSE 5 END AS b
  FROM gaps
),
terms AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df_count,
         CAST(sum(b) * 8 AS BIGINT) AS vbyte_bits
  FROM vb GROUP BY tok
),
u AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS uu FROM documents),
ef AS (
  SELECT tok, df_count, vbyte_bits,
         greatest(length(bin(uu // df_count)) - 1, 0) AS l, uu
  FROM terms CROSS JOIN u
)
SELECT tok, df_count, vbyte_bits,
       CAST(df_count * l + df_count + (uu >> CAST(l AS INT)) AS BIGINT)
         AS ef_bits,
       (df_count * l + df_count + (uu >> CAST(l AS INT))) < vbyte_bits
         AS ef_wins
FROM ef
"""


def q221_image_dims(spark, sf_dir):
    """Header-only image dimension census (functions/media.
    image_dimensions): PNG IHDR / GIF logical-screen / JPEG SOF-marker-
    walk dims from REAL bytes without any pixel decode — the size
    pre-filter a 100-TB image corpus runs before paying decodes, and the
    only stdlib path that covers JPEG at all (no stdlib pixel codec
    exists; the dimensions live in the uncompressed marker stream).
    Fixture: 24 real images (stdlib PNG/GIF encoders + a structurally
    valid JPEG marker stream), dims pure arithmetic on the index so the
    oracle reproduces the expected census from the closed form — two
    fully independent paths to the same table."""
    import numpy as np

    from eget_spark.functions.gif import encode_gif
    from eget_spark.functions.media import image_dimensions
    from eget_spark.functions.png import encode_png

    import struct as _struct

    def jpeg_hdr(w, h):
        app0 = b"\xff\xe0" + _struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
        sof0 = (
            b"\xff\xc0" + _struct.pack(">H", 17) + b"\x08"
            + _struct.pack(">HH", h, w) + b"\x03" + bytes(9)
        )
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    pal = np.array([[1, 2, 3], [4, 5, 6]], dtype=np.uint8)
    rows = []
    for g in range(24):
        w, h = 3 + g % 5, 2 + g % 4
        if g % 3 == 0:
            payload = encode_png(np.zeros((h, w), dtype=np.uint8))
        elif g % 3 == 1:
            payload = encode_gif(
                np.zeros((h, w), dtype=np.uint8), pal
            )
        else:
            payload = jpeg_hdr(100 + g, 50 + g)
        rows.append((f"m{g}", bytearray(payload)))
    media = spark.createDataFrame(
        rows, "media_ref string, payload binary"
    ).repartition(4)
    return image_dimensions(media)


_Q221_SQL = r"""
WITH i AS (SELECT CAST(range AS BIGINT) AS g FROM range(24))
SELECT 'm' || CAST(g AS VARCHAR) AS media_ref,
       CASE g % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END
         AS format,
       CAST(CASE WHEN g % 3 = 2 THEN 100 + g ELSE 3 + g % 5 END AS INT)
         AS width,
       CAST(CASE WHEN g % 3 = 2 THEN 50 + g ELSE 2 + g % 4 END AS INT)
         AS height
FROM i
"""


def q222_dsir_weights(spark, sf_dir):
    """DSIR data selection (operators/dsir.dsir_weights, Xie et al.
    NeurIPS 2023): hashed unigram+bigram bucket distributions (B=64) of
    a target slice (doc_id%7==0) vs the raw remainder, add-1 smoothed;
    every raw doc scores its summed per-bucket log importance ratio —
    the "pick the crawl slice that looks like the target domain"
    estimator.  The B-row log-ratio table broadcasts; the raw corpus
    never shuffles on a vocabulary key.  round-6 ln discipline."""
    from eget_spark.operators.dsir import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 7 == 0)
    raw = docs.where(F.col("doc_id") % 7 != 0)
    w = dsir_weights(raw, target, "doc_id", "text", n_buckets=64)
    return w.select(F.col("id").alias("doc_id"), "n_feats", "dsir_logw")


_Q222_SQL = r"""
WITH lt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
uni AS (SELECT doc_id, unnest(l) AS feat FROM lt),
bi AS (
  SELECT doc_id,
         unnest(CASE WHEN len(l) < 2 THEN CAST([] AS VARCHAR[])
                ELSE list_transform(range(len(l) - 1),
                       i -> list_extract(l, i + 1) || ' '
                            || list_extract(l, i + 2)) END) AS feat
  FROM lt
),
feats AS (
  SELECT doc_id, feat FROM uni UNION ALL SELECT doc_id, feat FROM bi
),
fb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('ds:' || feat), 1, 15)) AS BIGINT) % 64
           AS bucket
  FROM feats
),
fr AS (
  SELECT doc_id, bucket, count(*) AS k
  FROM fb WHERE doc_id % 7 <> 0 GROUP BY doc_id, bucket
),
ftb AS (
  SELECT bucket, count(*) AS c_t
  FROM fb WHERE doc_id % 7 = 0 GROUP BY bucket
),
crb AS (SELECT bucket, sum(k) AS c_r FROM fr GROUP BY bucket),
sc AS (
  SELECT (SELECT coalesce(sum(k), 0) FROM fr) AS r_tot,
         (SELECT coalesce(sum(c_t), 0) FROM ftb) AS t_tot
),
lr AS (
  SELECT CAST(b.range AS BIGINT) AS bucket,
         ln((coalesce(ct.c_t, 0) + 1) / CAST(t_tot + 64 AS DOUBLE))
         - ln((coalesce(cr.c_r, 0) + 1) / CAST(r_tot + 64 AS DOUBLE)) AS lr
  FROM range(64) b
  LEFT JOIN ftb ct ON ct.bucket = b.range
  LEFT JOIN crb cr ON cr.bucket = b.range
  CROSS JOIN sc
),
scored AS (
  SELECT fr.doc_id, CAST(sum(fr.k) AS BIGINT) AS n_feats,
         round(sum(fr.k * lr.lr), 6) AS dsir_logw
  FROM fr JOIN lr ON lr.bucket = fr.bucket GROUP BY fr.doc_id
)
SELECT d.doc_id, CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
       s.dsir_logw
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
WHERE d.doc_id % 7 <> 0
"""


def _q207_media(spark, n: int = 18):
    """Shared fixture for q207: n REAL GIFs (functions/gif.encode_gif) —
    image g is (5 + g%7) x (4 + g%5), 4-entry palette p =
    ((p*37+5)%256, (p*53+11)%256, (p*71+17)%256) (the q102 palette),
    index(y,x) = (y*(1+g%3) + x*(2+g%4) + g) % 4; g%6==5 marks index 3
    transparent (RGBA path), g%4==2 is INTERLACED — the position-
    weighted checksum makes a wrong de-weave a value mismatch."""
    import numpy as np

    from eget_spark.functions.gif import encode_gif

    pal = np.array(
        [[(p * 37 + 5) % 256, (p * 53 + 11) % 256, (p * 71 + 17) % 256]
         for p in range(4)],
        dtype=np.uint8,
    )
    rows = []
    for g in range(n):
        w, h = 5 + g % 7, 4 + g % 5
        a, b = 1 + g % 3, 2 + g % 4
        idx = (
            (np.arange(h)[:, None] * a + np.arange(w)[None, :] * b + g) % 4
        ).astype(np.uint8)
        rows.append(
            (
                f"gif{g:03d}",
                bytearray(
                    encode_gif(
                        idx,
                        pal,
                        transparent=3 if g % 6 == 5 else -1,
                        interlaced=g % 4 == 2,
                    )
                ),
            )
        )
    rows.append(("bad000", bytearray(b"GIF89a\x00\x01")))
    rows.append(("bad001", bytearray(b"not an image")))
    return spark.createDataFrame(rows, "media_ref string, payload binary")


def q207_gif_decode(spark, sf_dir):
    """GIF decode, REAL bytes end-to-end (functions/gif.py: GIF89a
    container + LSB-first variable-width LZW + interlace de-weave + GCE
    transparency; functions/media.image_pixel_checksums): the second
    stdlib image codec after PNG — the reference reads GIFs through PIL
    (services/file/file_utils.py).  The oracle recomputes width/height/
    channels, the full byte sum, AND the position-weighted channel-0
    checksum from the closed form, so an LZW width-sync error, palette
    slip, alpha-expansion bug, or wrong interlace weave is a value
    mismatch; truncated/alien payloads are dropped."""
    from eget_spark.functions.media import image_pixel_checksums

    return image_pixel_checksums(_q207_media(spark))


_Q207_SQL = r"""
WITH imgs AS (
  SELECT i, 5 + i % 7 AS w, 4 + i % 5 AS h, 1 + i % 3 AS a, 2 + i % 4 AS b,
         CASE WHEN i % 6 = 5 THEN 4 ELSE 3 END AS ch
  FROM (SELECT CAST(range AS BIGINT) AS i FROM range(0, 18))
),
pix AS (
  SELECT imgs.i, w, h, ch,
         y.q AS yy, x.q AS xx,
         ((y.q * a + x.q * b + imgs.i) % 4) AS p
  FROM imgs
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 9)) y ON y.q < h
  JOIN (SELECT CAST(range AS BIGINT) AS q FROM range(0, 12)) x ON x.q < w
),
sums AS (
  SELECT i, w, h, ch,
         sum((p * 37 + 5) % 256 + (p * 53 + 11) % 256 + (p * 71 + 17) % 256
             + CASE WHEN ch = 4 AND p <> 3 THEN 255 ELSE 0 END) AS pt,
         sum((yy * w + xx) * ((p * 37 + 5) % 256)) AS pw
  FROM pix GROUP BY i, w, h, ch
)
SELECT printf('gif%03d', i) AS media_ref,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(ch AS INTEGER) AS channels,
       CAST(pt AS BIGINT) AS pix_total,
       CAST(pw AS BIGINT) AS pos_weighted
FROM sums
"""


def q201_bm25f(spark, sf_dir):
    """BM25F field-weighted search (operators/search.bm25f_topk —
    Robertson & Zaragoza 2009 §3.3 'simple BM25F'): title (first 8
    tokens, w=2.0, b=0.5) and body (rest, w=1.0, b=0.75) contribute a
    soft-normalized weighted tf INSIDE one shared saturation, which is
    what distinguishes BM25F from summing per-field BM25 scores.  Same
    scale shape as q74: zero-shuffle codegen'd tf projections, one
    broadcast stats row, TakeOrdered top-k."""
    from eget_spark.operators.search import bm25f_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25f_topk(docs, "doc_id", "text", ["spark", "window", "merge"])


def _q201_term(i: int, term: str) -> str:
    wtf = (
        f"((2.0 * tt{i}) / (0.5 + (0.5 * lt) / (sumlt / n))"
        f" + (1.0 * tb{i}) / (0.25 + (0.75 * lb) / (sumlb / n)))"
    )
    return f"""(CASE WHEN (tt{i} + tb{i}) > 0 THEN
     (ln(1.0 + ((n - df{i}) + 0.5) / (df{i} + 0.5)) * {wtf})
       / (1.2 + {wtf})
   ELSE 0.0 END)"""


_Q201_SQL = (
    r"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
fl AS (SELECT doc_id, l[1:8] AS tl, l[9:] AS bl FROM d),
base AS (
  SELECT doc_id,
         CAST(length(tl) AS BIGINT) AS lt, CAST(length(bl) AS BIGINT) AS lb,
         CAST(length(list_filter(tl, x -> x = 'spark'))  AS BIGINT) AS tt0,
         CAST(length(list_filter(bl, x -> x = 'spark'))  AS BIGINT) AS tb0,
         CAST(length(list_filter(tl, x -> x = 'window')) AS BIGINT) AS tt1,
         CAST(length(list_filter(bl, x -> x = 'window')) AS BIGINT) AS tb1,
         CAST(length(list_filter(tl, x -> x = 'merge'))  AS BIGINT) AS tt2,
         CAST(length(list_filter(bl, x -> x = 'merge'))  AS BIGINT) AS tb2
  FROM fl
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lt) AS BIGINT) AS sumlt, CAST(sum(lb) AS BIGINT) AS sumlb,
         CAST(sum(CASE WHEN tt0 + tb0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(sum(CASE WHEN tt1 + tb1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tt2 + tb2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM base
),
scored AS (
  SELECT doc_id, round(
"""
    + "\n + ".join(
        _q201_term(i, t) for i, t in enumerate(["spark", "window", "merge"])
    )
    + r""", 6) AS score
  FROM base CROSS JOIN st
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
FROM (SELECT * FROM scored WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20)
"""
)



def q223_cocitation(spark, sf_dir):
    """Co-citation + bibliographic-coupling pairs (operators/graph.
    cocitation_pairs — Small 1973 / Kessler 1963): top-40 page pairs by
    shared in-neighbors (co-cited) with their shared-out-link coupling
    count, over the analytics link graph.  Pivot keys with degree > 64
    are excluded from pair generation BEFORE the self-join — the pinned
    hot-key guard that keeps a 10^6-in-degree home page from emitting
    5*10^11 pairs through one reducer; the cap is part of the operator
    contract, so the oracle applies the identical HAVING gate.  Pair
    fan-out is bounded by cap^2/2 per pivot; the only window runs over
    the bounded pair table."""
    from eget_spark.operators.graph import cocitation_pairs

    _, edges = _arith_edges(spark, sf_dir)
    return cocitation_pairs(edges, max_degree=64, top_k=40)


_Q223_SQL = (
    "WITH "
    + _EDGES_SQL.lstrip().removeprefix("WITH ")
    + r""",
e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
cold_out AS (SELECT src FROM e GROUP BY src HAVING count(*) <= 64),
eout AS (SELECT e.src, e.dst FROM e JOIN cold_out USING (src)),
cocite AS (
  SELECT x.dst AS a, y.dst AS b, CAST(count(*) AS BIGINT) AS cocitations
  FROM eout x JOIN eout y ON x.src = y.src AND x.dst < y.dst
  GROUP BY 1, 2
),
cold_in AS (SELECT dst FROM e GROUP BY dst HAVING count(*) <= 64),
ein AS (SELECT e.src, e.dst FROM e JOIN cold_in USING (dst)),
couple AS (
  SELECT x.src AS a, y.src AS b, CAST(count(*) AS BIGINT) AS couplings
  FROM ein x JOIN ein y ON x.dst = y.dst AND x.src < y.src
  GROUP BY 1, 2
),
pb AS (
  SELECT COALESCE(c.a, k.a) AS a, COALESCE(c.b, k.b) AS b,
         CAST(COALESCE(c.cocitations, 0) AS BIGINT) AS cocitations,
         CAST(COALESCE(k.couplings, 0) AS BIGINT) AS couplings
  FROM cocite c FULL JOIN couple k ON c.a = k.a AND c.b = k.b
)
SELECT * FROM (
  SELECT a, b, cocitations, couplings,
         CAST(row_number() OVER (
           ORDER BY cocitations DESC, couplings DESC, a, b) AS INT) AS rnk
  FROM pb
) WHERE rnk <= 40
"""
)


def q224_unimax_mix(spark, sf_dir):
    """UniMax budget allocation (operators/sampling.unimax_allocation —
    Chung et al. ICLR 2023): spread a one-epoch total char budget as
    uniformly as possible across the 20 sources under a 1.02-epoch
    per-source repetition cap, so below-average sources hit their cap
    (get all their chars) and the rest split the remainder equally with
    a pinned integer tie rule.  The budget is a 1-row driver-side agg
    (plan metadata, the q206 n-count pattern); everything else is window
    arithmetic over the 20-row plan table — the corpus is touched by
    exactly one map-side-combined groupBy."""
    from eget_spark.operators.sampling import unimax_allocation

    docs = _t(spark, sf_dir, "documents")
    budget = int(
        docs.agg(F.sum(F.col("n_chars").cast("long"))).collect()[0][0]
    )
    return unimax_allocation(
        docs, "source", "n_chars", budget, max_epochs_ppm=1_020_000
    )


_Q224_SQL = r"""
WITH per AS (
  SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS b FROM per),
cap AS (
  SELECT grp, n_docs, n_tokens,
         CAST(n_tokens * 1020000 // 1000000 AS BIGINT) AS cap_tokens
  FROM per
),
rk AS (
  SELECT cap.*,
         CAST(row_number() OVER (ORDER BY cap_tokens, grp) AS BIGINT) AS i,
         CAST(sum(cap_tokens) OVER (
           ORDER BY cap_tokens, grp
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
         CAST(count(*) OVER () AS BIGINT) AS d
  FROM cap
),
fl AS (
  SELECT rk.*, (s + cap_tokens * (d - i)) <= (SELECT b FROM tot) AS capped
  FROM rk
),
kk AS (
  SELECT CAST(COALESCE(max(CASE WHEN capped THEN i END), 0) AS BIGINT) AS k,
         CAST(COALESCE(max(CASE WHEN capped THEN s END), 0) AS BIGINT) AS sk
  FROM fl
),
alloc AS (
  SELECT grp, n_docs, n_tokens, cap_tokens,
         CAST(CASE WHEN capped THEN cap_tokens ELSE
           ((SELECT b FROM tot) - sk) // (d - k)
           + CASE WHEN i - k <= ((SELECT b FROM tot) - sk) % (d - k)
                  THEN 1 ELSE 0 END
         END AS BIGINT) AS alloc_tokens
  FROM fl CROSS JOIN kk
)
SELECT alloc.*,
       CAST(CASE WHEN n_tokens > 0 THEN
         (alloc_tokens // n_tokens) * 1000000
         + (alloc_tokens % n_tokens) * 1000000 // n_tokens
       ELSE 0 END AS BIGINT) AS epochs_ppm
FROM alloc
"""


def q225_image_dims_ext(spark, sf_dir):
    """Header-only dimension census for the BMP and WebP families
    (functions/media.image_header_dims, q221's census extended): DIB
    headers (BITMAPINFOHEADER int32 dims incl. the negative top-down
    height, OS/2 BITMAPCOREHEADER uint16 dims) and all three RIFF/WebP
    chunk layouts (lossy VP8 14-bit dims behind the 9d 01 2a sync code,
    lossless VP8L packed width-1/height-1 behind 0x2F, extended VP8X
    24-bit LE canvas dims) — none of which a stdlib pixel codec exists
    for, exactly why the census reads container headers only.  Fixture
    bytes are REAL minimal headers built per spec; dims are closed-form
    in the index so the oracle reproduces the census independently."""
    import struct as _struct

    from eget_spark.functions.media import image_dimensions

    def bmp_info(w, h, topdown):
        hdr = b"BM" + _struct.pack("<IHHI", 54 + 4, 0, 0, 54)
        dib = _struct.pack(
            "<IiiHHIIiiII", 40, w, -h if topdown else h, 1, 24, 0, 4, 2835,
            2835, 0, 0
        )
        return hdr + dib + b"\x00\x00\xff\x00"

    def bmp_core(w, h):
        hdr = b"BM" + _struct.pack("<IHHI", 26 + 4, 0, 0, 26)
        return hdr + _struct.pack("<IHHHH", 12, w, h, 1, 24) + b"\x12\x34"

    def webp(fourcc, body):
        chunk = fourcc + _struct.pack("<I", len(body)) + body
        if len(body) % 2:
            chunk += b"\x00"
        return b"RIFF" + _struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    def vp8(w, h):
        return webp(
            b"VP8 ",
            b"\x30\x00\x00" + b"\x9d\x01\x2a"
            + _struct.pack("<HH", w, h) + b"\x00" * 6,
        )

    def vp8l(w, h):
        bits = (w - 1) | ((h - 1) << 14)
        return webp(b"VP8L", b"\x2f" + _struct.pack("<I", bits) + b"\x00")

    def vp8x(w, h):
        return webp(
            b"VP8X",
            b"\x00\x00\x00\x00"
            + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little"),
        )

    rows = []
    for g in range(30):
        w, h = 5 + g % 7, 3 + g % 5
        kind = g % 5
        if kind == 0:
            payload = bmp_info(w, h, topdown=bool(g % 2))
        elif kind == 1:
            payload = bmp_core(w, h)
        elif kind == 2:
            payload = vp8(w, h)
        elif kind == 3:
            payload = vp8l(w, h)
        else:
            payload = vp8x(w, h)
        rows.append((f"x{g}", bytearray(payload)))
    media = spark.createDataFrame(
        rows, "media_ref string, payload binary"
    ).repartition(4)
    return image_dimensions(media)


_Q225_SQL = r"""
WITH i AS (SELECT CAST(range AS BIGINT) AS g FROM range(30))
SELECT 'x' || CAST(g AS VARCHAR) AS media_ref,
       CASE WHEN g % 5 <= 1 THEN 'bmp' ELSE 'webp' END AS format,
       CAST(5 + g % 7 AS INT) AS width,
       CAST(3 + g % 5 AS INT) AS height
FROM i
"""



def q226_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM scoring (operators/lm_score.
    kneser_ney_doc_scores — Kneser & Ney 1995 / Chen & Goodman 1998,
    the smoothing KenLM ships and CCNet's perplexity filter runs): LM
    trained on the doc_id%5!=0 corpus slice, the held-out doc_id%5==0
    slice scored — so the unseen-bigram, unseen-context, and unseen-
    continuation floors are all genuinely exercised, not dead branches.
    Per-bigram ln quantized to int64 micro-units BEFORE any cross-row
    sum (exact integer doc sums, summation order irrelevant); completes
    the smoothing ladder next to q66 add-one, q75 stupid backoff, q216
    Dirichlet, and q217 Good-Turing."""
    from eget_spark.operators.lm_score import kneser_ney_doc_scores

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    return kneser_ney_doc_scores(held, train).withColumnRenamed(
        "id", "doc_id"
    )


_Q226_SQL = r"""
WITH docs_l AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
tr_pos AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
  FROM docs_l WHERE doc_id % 5 <> 0
),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM (SELECT a.w AS w1, b.w AS w2
        FROM tr_pos a JOIN tr_pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
  GROUP BY w1, w2
),
ctx AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1fwd
  FROM bi GROUP BY w1
),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1w FROM bi GROUP BY w2),
scal AS (SELECT CAST(count(*) AS BIGINT) AS btypes FROM bi),
held_pos AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
  FROM docs_l WHERE doc_id % 5 = 0
),
doc_bi AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
  FROM (SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM held_pos a JOIN held_pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
  GROUP BY doc_id, w1, w2
),
lp AS (
  SELECT d.doc_id, d.k,
         CAST(round(ln(
           CASE WHEN x.c1 IS NOT NULL THEN
             greatest(coalesce(b.c12, 0) - 0.75, 0.0) / x.c1
             + 0.75 * x.n1fwd / x.c1
               * (greatest(2 * coalesce(n.n1w, 0), 1) / (2.0 * s.btypes))
           ELSE greatest(2 * coalesce(n.n1w, 0), 1) / (2.0 * s.btypes)
           END) * 1e6, 0) AS BIGINT) AS lp_micro
  FROM doc_bi d
  LEFT JOIN bi b ON b.w1 = d.w1 AND b.w2 = d.w2
  LEFT JOIN ctx x ON x.w1 = d.w1
  LEFT JOIN cont n ON n.w2 = d.w2
  CROSS JOIN scal s
),
scored AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         CAST(sum(k * lp_micro) AS BIGINT) AS kn_sum_micro
  FROM lp GROUP BY doc_id
)
SELECT h.doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(s.kn_sum_micro, 0) AS BIGINT) AS kn_sum_micro,
       round(s.kn_sum_micro / 1e6 / s.n_bigrams, 6) AS kn_mean
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) h
LEFT JOIN scored s ON s.doc_id = h.doc_id
"""




def q227_rm3_expansion(spark, sf_dir):
    """RM3 pseudo-relevance-feedback query model (operators/search.
    rm3_expansion — Lavrenko & Croft SIGIR 2001 relevance models;
    Abdul-Jaleel et al. TREC 2004 RM3 interpolation, the default
    feedback model in Anserini/Galago): same query as q74/q216 so the
    retrieval family stays comparable; 10 feedback docs picked by the
    bit-exact Dirichlet product P(Q|D), RM1 mass in exact integers
    ((w_fp*tf) div dl summed), lambda=0.5 ppm interpolation.  One row
    per model term: (tok, rm1_fp, weight_fp, is_original)."""
    from eget_spark.operators.search import rm3_expansion

    docs = _t(spark, sf_dir, "documents")
    return rm3_expansion(
        docs, "doc_id", "text", ["spark", "window", "merge"]
    )


_RM3_HEAD_SQL = r"""
WITH d AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
dl AS (SELECT id, CAST(length(l) AS BIGINT) AS dl FROM d),
toks AS (
  SELECT id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT id, unnest(l) AS tok FROM d) GROUP BY id, tok
),
ctf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS ctf FROM toks GROUP BY tok),
sumdl AS (SELECT CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
cstat AS (
  SELECT
    (SELECT coalesce(max(ctf), 0) FROM ctf WHERE tok = 'spark')  AS ctf0,
    (SELECT coalesce(max(ctf), 0) FROM ctf WHERE tok = 'window') AS ctf1,
    (SELECT coalesce(max(ctf), 0) FROM ctf WHERE tok = 'merge')  AS ctf2,
    (SELECT sumdl FROM sumdl) AS sumdl
),
base AS (
  SELECT dl.id, dl.dl,
         coalesce(t0.tf, 0) AS tf0,
         coalesce(t1.tf, 0) AS tf1,
         coalesce(t2.tf, 0) AS tf2
  FROM dl
  LEFT JOIN toks t0 ON t0.id = dl.id AND t0.tok = 'spark'
  LEFT JOIN toks t1 ON t1.id = dl.id AND t1.tok = 'window'
  LEFT JOIN toks t2 ON t2.id = dl.id AND t2.tok = 'merge'
),
qlik AS (
  SELECT id, dl,
    (CASE WHEN ctf0 > 0
          THEN (tf0 + 2000.0 * ctf0 / sumdl) / (dl + 2000.0) ELSE 1.0 END)
    * (CASE WHEN ctf1 > 0
            THEN (tf1 + 2000.0 * ctf1 / sumdl) / (dl + 2000.0) ELSE 1.0 END)
    * (CASE WHEN ctf2 > 0
            THEN (tf2 + 2000.0 * ctf2 / sumdl) / (dl + 2000.0) ELSE 1.0 END)
    AS q_lik
  FROM base CROSS JOIN cstat
),
fb AS (SELECT id, dl, q_lik FROM qlik ORDER BY q_lik DESC, id LIMIT 10),
maxq AS (SELECT max(q_lik) AS maxq FROM fb),
fbw AS (
  SELECT id, dl, CAST(round(q_lik / maxq * 1e12, 0) AS BIGINT) AS w_fp
  FROM fb CROSS JOIN maxq
),
rm1 AS (
  SELECT tok, CAST(sum((w_fp * tf) // dl) AS BIGINT) AS rm1_fp
  FROM toks JOIN fbw USING (id)
  GROUP BY tok
),
expn AS (
  SELECT tok, rm1_fp FROM rm1
  WHERE tok NOT IN ('spark', 'window', 'merge') AND rm1_fp > 0
  ORDER BY rm1_fp DESC, tok LIMIT 10
),
s AS (SELECT CAST(sum(rm1_fp) AS BIGINT) AS s FROM expn),
expw AS (
  SELECT tok, rm1_fp, CAST((500000 * rm1_fp) // s AS BIGINT) AS weight_fp
  FROM expn CROSS JOIN s
),
qw AS (
  SELECT unnest(['spark', 'window', 'merge']) AS tok,
         CAST(0 AS BIGINT) AS rm1_fp, CAST(166666 AS BIGINT) AS weight_fp
),
w AS (
  SELECT u.tok, u.rm1_fp, u.weight_fp,
         ctf.ctf * 1.0 / sumdl.sumdl AS pc
  FROM (SELECT * FROM qw UNION ALL SELECT * FROM expw) u
  LEFT JOIN ctf USING (tok) CROSS JOIN sumdl
  WHERE coalesce(ctf.ctf, 0) > 0
)
"""

_Q227_SQL = _RM3_HEAD_SQL + r"""
SELECT tok, rm1_fp, weight_fp,
       tok IN ('spark', 'window', 'merge') AS is_original
FROM w
"""


def q228_rm3_topk(spark, sf_dir):
    """Top-20 documents under the RM3-expanded query (operators/search.
    rm3_topk): KL scoring of the interpolated query model against each
    document's Dirichlet LM, in exact micro-nat*ppm integers via the
    sparse-gain decomposition (ln P = ln(tf+mu*pc) - ln(dl+mu), absent
    terms ride the per-query constant); (doc_id, score_fp, rnk)."""
    from eget_spark.operators.search import rm3_topk

    docs = _t(spark, sf_dir, "documents")
    return rm3_topk(docs, "doc_id", "text", ["spark", "window", "merge"])


_Q228_SQL = _RM3_HEAD_SQL + r""",
consts AS (
  SELECT CAST(sum(CAST(round(weight_fp * ln(2000.0 * pc), 0) AS BIGINT))
              AS BIGINT) AS c_fp,
         CAST(sum(weight_fp) AS BIGINT) AS w_tot
  FROM w
),
gains AS (
  SELECT id,
         CAST(sum(CAST(round(weight_fp
             * ln((tf + 2000.0 * pc) / (2000.0 * pc)), 0) AS BIGINT))
             AS BIGINT) AS gain_fp
  FROM toks JOIN w USING (tok) GROUP BY id
),
scored AS (
  SELECT dl.id AS doc_id,
         CAST(coalesce(g.gain_fp, 0) + c.c_fp
              - CAST(round(c.w_tot * ln(dl.dl + 2000.0), 0) AS BIGINT)
              AS BIGINT) AS score_fp
  FROM dl LEFT JOIN gains g USING (id) CROSS JOIN consts c
)
SELECT doc_id, score_fp,
       CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS INT) AS rnk
FROM scored ORDER BY score_fp DESC, doc_id LIMIT 20
"""




def q229_moore_lewis(spark, sf_dir):
    """Moore-Lewis cross-entropy difference data selection (operators/
    lm_score.moore_lewis_scores — Moore & Lewis ACL 2010, the standard
    in-domain subset selector for LM training data): in-domain LM
    trained on the English slice (lang='en'), general LM on the whole
    pool; every pool doc scores the mean per-token log-ratio
    lnP_in - lnP_pool in exact int64 micro-units.  English docs should
    surface with higher ml_mean than the fr/de/es mixture — the
    domain-matched ranking a curation pipeline thresholds."""
    from eget_spark.operators.lm_score import moore_lewis_scores

    docs = _t(spark, sf_dir, "documents")
    return moore_lewis_scores(
        docs, docs.where(F.col("lang") == "en")
    ).withColumnRenamed("id", "doc_id")


_Q229_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
doc_toks AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k
  FROM (SELECT doc_id, unnest(l) AS tok FROM d) GROUP BY doc_id, tok
),
cnt_i AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(l) AS tok FROM d WHERE lang = 'en') GROUP BY tok
),
cnt_o AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(l) AS tok FROM d) GROUP BY tok
),
si AS (SELECT CAST(sum(cnt) AS BIGINT) AS ni,
              CAST(count(*) AS BIGINT) AS vi FROM cnt_i),
so AS (SELECT CAST(sum(cnt) AS BIGINT) AS no_,
              CAST(count(*) AS BIGINT) AS vo FROM cnt_o),
lr AS (
  SELECT t.doc_id, t.k,
         CAST(round((
           coalesce(ln((i.cnt + 1.0) / (si.ni + si.vi)),
                    ln(1.0 / (si.ni + si.vi)))
           - coalesce(ln((o.cnt + 1.0) / (so.no_ + so.vo)),
                      ln(1.0 / (so.no_ + so.vo)))
         ) * 1e6, 0) AS BIGINT) AS lr_micro
  FROM doc_toks t
  LEFT JOIN cnt_i i USING (tok)
  LEFT JOIN cnt_o o USING (tok)
  CROSS JOIN si CROSS JOIN so
),
scored AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
         CAST(sum(k * lr_micro) AS BIGINT) AS ml_sum_micro
  FROM lr GROUP BY doc_id
)
SELECT dd.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.ml_sum_micro, 0) AS BIGINT) AS ml_sum_micro,
       round(s.ml_sum_micro / 1e6 / s.n_tokens, 6) AS ml_mean
FROM (SELECT doc_id FROM documents) dd
LEFT JOIN scored s USING (doc_id)
"""




def q230_witten_bell(spark, sf_dir):
    """Interpolated Witten-Bell bigram LM scoring (operators/lm_score.
    witten_bell_doc_scores — Witten & Bell 1991 method C, SRILM's
    -wbdiscount): the distinct-continuation escape estimate T(v)
    interpolates the bigram ML with the add-one unigram fallback.  Same
    train/held split as q226 (doc_id%5), same int64 micro-unit
    determinism; completes the smoothing ladder (q66 add-one, q75
    stupid backoff, q216 Dirichlet, q217 Good-Turing, q226 KN)."""
    from eget_spark.operators.lm_score import witten_bell_doc_scores

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    return witten_bell_doc_scores(held, train).withColumnRenamed(
        "id", "doc_id"
    )


_Q230_SQL = r"""
WITH docs_l AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
tr_pos AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
  FROM docs_l WHERE doc_id % 5 <> 0
),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM (SELECT a.w AS w1, b.w AS w2
        FROM tr_pos a JOIN tr_pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
  GROUP BY w1, w2
),
ctx AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS t_v
  FROM bi GROUP BY w1
),
uni AS (
  SELECT w AS tok, CAST(count(*) AS BIGINT) AS cw FROM tr_pos GROUP BY w
),
scal AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tot,
                CAST(count(*) AS BIGINT) AS v_size FROM uni),
held_pos AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
  FROM docs_l WHERE doc_id % 5 = 0
),
doc_bi AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
  FROM (SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM held_pos a JOIN held_pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
  GROUP BY doc_id, w1, w2
),
lp AS (
  SELECT d.doc_id, d.k,
         CAST(round(ln(
           CASE WHEN x.c1 IS NOT NULL THEN
             (coalesce(b.c12, 0)
              + x.t_v * ((coalesce(u.cw, 0) + 1.0) / (s.n_tot + s.v_size)))
             / (x.c1 + x.t_v)
           ELSE (coalesce(u.cw, 0) + 1.0) / (s.n_tot + s.v_size)
           END) * 1e6, 0) AS BIGINT) AS lp_micro
  FROM doc_bi d
  LEFT JOIN bi b ON b.w1 = d.w1 AND b.w2 = d.w2
  LEFT JOIN ctx x ON x.w1 = d.w1
  LEFT JOIN uni u ON u.tok = d.w2
  CROSS JOIN scal s
),
scored AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         CAST(sum(k * lp_micro) AS BIGINT) AS wb_sum_micro
  FROM lp GROUP BY doc_id
)
SELECT h.doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(s.wb_sum_micro, 0) AS BIGINT) AS wb_sum_micro,
       round(s.wb_sum_micro / 1e6 / s.n_bigrams, 6) AS wb_mean
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) h
LEFT JOIN scored s ON s.doc_id = h.doc_id
"""


def q231_ccnet_tertiles(spark, sf_dir):
    """CCNet per-language perplexity tertiles (operators/lm_score.
    ccnet_tertiles — Wenzek et al. LREC 2020 §4.3): each language slice
    trains its own add-one unigram LM, every doc scores against its own
    language's model, and ntile(3) over (score DESC, id) labels the
    head/middle/tail thirds — the bucketing CCNet publishes and LM
    pretraining corpora filter on (keep head, often drop tail)."""
    from eget_spark.operators.lm_score import ccnet_tertiles

    docs = _t(spark, sf_dir, "documents")
    return ccnet_tertiles(docs).withColumnRenamed("id", "doc_id")


_Q231_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
toks AS (SELECT doc_id, lang, unnest(l) AS tok FROM d),
doc_toks AS (
  SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS k
  FROM toks GROUP BY doc_id, lang, tok
),
lm AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY lang, tok
),
scal AS (
  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tot,
         CAST(count(*) AS BIGINT) AS v_size
  FROM lm GROUP BY lang
),
scored AS (
  SELECT t.doc_id,
         CAST(sum(t.k) AS BIGINT) AS n_tokens,
         round(sum(ln((m.cnt + 1.0) / (s.n_tot + s.v_size)) * t.k)
               / sum(t.k), 6) AS lm_score
  FROM doc_toks t
  JOIN lm m ON m.lang = t.lang AND m.tok = t.tok
  JOIN scal s ON s.lang = t.lang
  GROUP BY t.doc_id
),
base AS (
  SELECT dd.doc_id, dd.lang,
         CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens, s.lm_score
  FROM (SELECT doc_id, lang FROM documents) dd
  LEFT JOIN scored s USING (doc_id)
)
SELECT doc_id, lang, n_tokens, lm_score,
       CAST(ntile(3) OVER (PARTITION BY lang
            ORDER BY lm_score DESC NULLS LAST, doc_id) AS INT) AS bucket,
       CASE ntile(3) OVER (PARTITION BY lang
            ORDER BY lm_score DESC NULLS LAST, doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS label
FROM base
"""




def q232_rocchio(spark, sf_dir):
    """Rocchio pseudo-relevance feedback in embedding space (operators/
    similarity.rocchio_rerank — Rocchio 1971 / IIR §9.1.1, the vector-
    space twin of q227/q228's lexical RM3): same query set as q17
    (vec_id%97==0); the query vector moves toward the exact-int64
    centroid of its top-10 brute-force neighbors (alpha=1, beta=0.75
    ppm-pinned, gamma=0 pseudo-feedback), then the corpus re-ranks by
    cosine to the modified query.  (query_id, neighbor_id, cosine,
    rank) top-10 per query, self excluded."""
    from eget_spark.operators.similarity import rocchio_rerank

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 97 == 0)
    out = rocchio_rerank(emb, queries, "vec_id", "embedding", fb_k=10, k=10)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine",
        F.col("rank").cast("int"),
    )


_Q232_SQL = f"""
WITH v AS ({_VECS_SQL}),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % 97 = 0),
fb AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {_cos_sql('q.qv', 'c.v')} AS cosine,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'c.v')} DESC, c.vec_id) AS rnk
    FROM q, v c WHERE c.vec_id <> q.query_id)
  WHERE rnk <= 10
),
rel_dims AS (
  SELECT f.query_id, dim, CAST(sum(x_fp) AS BIGINT) AS srel
  FROM fb f JOIN (
    SELECT vec_id, generate_subscripts(v, 1) AS dim,
           unnest(list_transform(v, x -> CAST(round(x * 1e6, 0) AS BIGINT))) AS x_fp
    FROM v) c ON c.vec_id = f.neighbor_id
  GROUP BY f.query_id, dim
),
n_rel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM fb GROUP BY query_id),
q_dims AS (
  SELECT query_id, generate_subscripts(qv, 1) AS dim,
         unnest(list_transform(qv, x -> CAST(round(x * 1e6, 0) AS BIGINT))) AS vq
  FROM q
),
q2 AS (
  SELECT d.query_id,
         list(CAST(1000000 * coalesce(n.n_rel, 1) * d.vq
              + 750000 * coalesce(r.srel, 0) AS DOUBLE) ORDER BY d.dim) AS q2v
  FROM q_dims d
  LEFT JOIN rel_dims r ON r.query_id = d.query_id AND r.dim = d.dim
  LEFT JOIN n_rel n ON n.query_id = d.query_id
  GROUP BY d.query_id
),
scored AS (
  SELECT q2.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q2.q2v', 'c.v')} AS cosine
  FROM q2, v c WHERE c.vec_id <> q2.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""




def q233_sdm(spark, sf_dir):
    """Sequential Dependence Model ranking (operators/search.sdm_topk —
    Metzler & Croft SIGIR 2005, the MRF model behind Galago/Anserini's
    sdm operator): term + exact-ordered-phrase + unordered-window-8
    features over the q74/q216 query, each Dirichlet-smoothed against
    its own collection frequency, paper weights (0.85, 0.10, 0.05).
    Proximity separates docs where "spark window" is a phrase from docs
    that merely contain both words.  (doc_id, score, rnk) top-20."""
    from eget_spark.operators.search import sdm_topk

    docs = _t(spark, sf_dir, "documents")
    return sdm_topk(docs, "doc_id", "text", ["spark", "window", "merge"])


_Q233_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
base AS (
  SELECT doc_id, CAST(len(l) AS BIGINT) AS dl,
         CAST(len(list_filter(l, x -> x = 'spark')) AS BIGINT) AS tf0,
         CAST(len(list_filter(l, x -> x = 'window')) AS BIGINT) AS tf1,
         CAST(len(list_filter(l, x -> x = 'merge')) AS BIGINT) AS tf2,
         CAST(len(list_filter(generate_series(1, greatest(len(l) - 1, 1)), i -> l[i] = 'spark' AND l[i+1] = 'window')) AS BIGINT) AS o0,
         CAST(len(list_filter(generate_series(1, greatest(len(l) - 1, 1)), i -> l[i] = 'window' AND l[i+1] = 'merge')) AS BIGINT) AS o1,
         CAST(coalesce(list_sum(list_transform(list_filter(generate_series(1, len(l)), i -> l[i] = 'spark'), i -> len(list_filter(list_filter(generate_series(1, len(l)), x -> l[x] = 'window'), j -> j <> i AND abs(j - i) <= 7)))), 0) AS BIGINT) AS u0,
         CAST(coalesce(list_sum(list_transform(list_filter(generate_series(1, len(l)), i -> l[i] = 'window'), i -> len(list_filter(list_filter(generate_series(1, len(l)), x -> l[x] = 'merge'), j -> j <> i AND abs(j - i) <= 7)))), 0) AS BIGINT) AS u1
  FROM d
),
stats AS (
  SELECT CAST(sum(dl) AS BIGINT) AS sumdl,
         CAST(sum(tf0) AS BIGINT) AS cf_tf0,
         CAST(sum(tf1) AS BIGINT) AS cf_tf1,
         CAST(sum(tf2) AS BIGINT) AS cf_tf2,
         CAST(sum(o0) AS BIGINT) AS cf_o0,
         CAST(sum(o1) AS BIGINT) AS cf_o1,
         CAST(sum(u0) AS BIGINT) AS cf_u0,
         CAST(sum(u1) AS BIGINT) AS cf_u1
  FROM base
),
scored AS (
  SELECT doc_id, round(
      0.85 * (CASE WHEN cf_tf0 > 0 THEN ln((tf0 + 2000.0 * cf_tf0 / sumdl) / (dl + 2000.0)) ELSE 0.0 END) +
      0.85 * (CASE WHEN cf_tf1 > 0 THEN ln((tf1 + 2000.0 * cf_tf1 / sumdl) / (dl + 2000.0)) ELSE 0.0 END) +
      0.85 * (CASE WHEN cf_tf2 > 0 THEN ln((tf2 + 2000.0 * cf_tf2 / sumdl) / (dl + 2000.0)) ELSE 0.0 END) +
      0.10 * (CASE WHEN cf_o0 > 0 THEN ln((o0 + 2000.0 * cf_o0 / sumdl) / (dl + 2000.0)) ELSE 0.0 END) +
      0.10 * (CASE WHEN cf_o1 > 0 THEN ln((o1 + 2000.0 * cf_o1 / sumdl) / (dl + 2000.0)) ELSE 0.0 END) +
      0.05 * (CASE WHEN cf_u0 > 0 THEN ln((u0 + 2000.0 * cf_u0 / sumdl) / (dl + 2000.0)) ELSE 0.0 END) +
      0.05 * (CASE WHEN cf_u1 > 0 THEN ln((u1 + 2000.0 * cf_u1 / sumdl) / (dl + 2000.0)) ELSE 0.0 END), 6) AS score
  FROM base CROSS JOIN stats
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
FROM scored ORDER BY score DESC, doc_id LIMIT 20
"""




def q234_mmr(spark, sf_dir):
    """Maximal Marginal Relevance diversified selection (operators/
    similarity.mmr_rerank — Carbonell & Goldstein SIGIR 1998): from the
    top-20 cosine candidates of query vector vec_id=0 (self excluded),
    greedily pick 5 with lambda=0.5 relevance/diversity trade-off —
    the exemplar-subset picker that avoids returning near-duplicates.
    (sel_rank, vec_id, rel, mmr_score) in selection order."""
    from eget_spark.operators.similarity import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0)
    out = mmr_rerank(
        emb.where(F.col("vec_id") != 0), qv, n_candidates=20, k=5
    )
    return out.select(
        F.col("sel_rank").cast("int"),
        F.col("id").cast("long").alias("vec_id"),
        "rel",
        "mmr_score",
    )


def _mmr_sql(k: int = 5) -> str:
    head = f"""
WITH v AS ({_VECS_SQL}),
q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
cand AS (
  SELECT c.vec_id AS id, c.v AS cv, {_cos_sql('q.qv', 'c.v')} AS rel
  FROM v c, q WHERE c.vec_id <> 0
  ORDER BY rel DESC, id LIMIT 20
),
pair AS (
  SELECT a.id AS a, b.id AS b, {_cos_sql('a.cv', 'b.cv')} AS sim
  FROM cand a, cand b WHERE a.id <> b.id
),
s1 AS (SELECT 1 AS sel_rank, id, rel, rel AS mmr_score
       FROM cand ORDER BY rel DESC, id LIMIT 1)"""
    parts = [head]
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT id FROM s{j}" for j in range(1, i)
        )
        parts.append(f""",
s{i} AS (
  SELECT {i} AS sel_rank, id, rel,
         0.5 * rel - 0.5 * coalesce(ms, 0.0) AS mmr_score
  FROM (SELECT c.id, c.rel,
               (SELECT max(p.sim) FROM pair p
                WHERE p.a = c.id AND p.b IN ({prev})) AS ms
        FROM cand c WHERE c.id NOT IN ({prev}))
  ORDER BY mmr_score DESC, id LIMIT 1
)""")
    union = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, k + 1))
    parts.append(f"""
SELECT CAST(sel_rank AS INT) AS sel_rank, CAST(id AS BIGINT) AS vec_id,
       rel, mmr_score
FROM ({union})""")
    return "".join(parts)


_Q234_SQL = _mmr_sql(5)




def q235_ktruss(spark, sf_dir):
    """3-truss decomposition of the analytics link graph (operators/
    graph.ktruss — Cohen 2008 support peeling): edges surviving 6
    pinned peeling rounds with >= 1 triangle each round; the
    triangle-reinforced community core that drops the star/hub spam
    k-core keeps.  Same edge synthesis as q40/q188.  (a, b, support)
    over the final graph, bit-exact integers."""
    from eget_spark.operators.graph import ktruss

    _, edges = _arith_edges(spark, sf_dir)
    return ktruss(edges, k=3, n_iter=6)


_Q235_SQL = (
    "WITH "
    + _EDGES_SQL.lstrip().removeprefix("WITH ")
    + r""",
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
sup_e1 AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    WITH deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
      GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v
      FROM e0 u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
    ),
    tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.v < e2.v
      WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = e1.v AND c.v = e2.v)
         OR EXISTS (SELECT 1 FROM o c WHERE c.u = e2.v AND c.v = e1.v)
    )
    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri
    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri
  ) GROUP BY a, b
),
e1 AS MATERIALIZED (
  SELECT e.a, e.b FROM e0 e JOIN sup_e1 s USING (a, b)
  WHERE s.support >= 1
),
sup_e2 AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    WITH deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1)
      GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v
      FROM e1 u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
    ),
    tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.v < e2.v
      WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = e1.v AND c.v = e2.v)
         OR EXISTS (SELECT 1 FROM o c WHERE c.u = e2.v AND c.v = e1.v)
    )
    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri
    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri
  ) GROUP BY a, b
),
e2 AS MATERIALIZED (
  SELECT e.a, e.b FROM e1 e JOIN sup_e2 s USING (a, b)
  WHERE s.support >= 1
),
sup_e3 AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    WITH deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2)
      GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v
      FROM e2 u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
    ),
    tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.v < e2.v
      WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = e1.v AND c.v = e2.v)
         OR EXISTS (SELECT 1 FROM o c WHERE c.u = e2.v AND c.v = e1.v)
    )
    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri
    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri
  ) GROUP BY a, b
),
e3 AS MATERIALIZED (
  SELECT e.a, e.b FROM e2 e JOIN sup_e3 s USING (a, b)
  WHERE s.support >= 1
),
sup_e4 AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    WITH deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3)
      GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v
      FROM e3 u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
    ),
    tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.v < e2.v
      WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = e1.v AND c.v = e2.v)
         OR EXISTS (SELECT 1 FROM o c WHERE c.u = e2.v AND c.v = e1.v)
    )
    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri
    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri
  ) GROUP BY a, b
),
e4 AS MATERIALIZED (
  SELECT e.a, e.b FROM e3 e JOIN sup_e4 s USING (a, b)
  WHERE s.support >= 1
),
sup_e5 AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    WITH deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS n FROM e4 UNION ALL SELECT b FROM e4)
      GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v
      FROM e4 u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
    ),
    tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.v < e2.v
      WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = e1.v AND c.v = e2.v)
         OR EXISTS (SELECT 1 FROM o c WHERE c.u = e2.v AND c.v = e1.v)
    )
    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri
    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri
  ) GROUP BY a, b
),
e5 AS MATERIALIZED (
  SELECT e.a, e.b FROM e4 e JOIN sup_e5 s USING (a, b)
  WHERE s.support >= 1
),
sup_e6 AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    WITH deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS n FROM e5 UNION ALL SELECT b FROM e5)
      GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v
      FROM e5 u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
    ),
    tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.v < e2.v
      WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = e1.v AND c.v = e2.v)
         OR EXISTS (SELECT 1 FROM o c WHERE c.u = e2.v AND c.v = e1.v)
    )
    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri
    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri
  ) GROUP BY a, b
),
e6 AS MATERIALIZED (
  SELECT e.a, e.b FROM e5 e JOIN sup_e6 s USING (a, b)
  WHERE s.support >= 1
),
sup_efin AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    WITH deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS n FROM e6 UNION ALL SELECT b FROM e6)
      GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v
      FROM e6 u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
    ),
    tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.v < e2.v
      WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = e1.v AND c.v = e2.v)
         OR EXISTS (SELECT 1 FROM o c WHERE c.u = e2.v AND c.v = e1.v)
    )
    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri
    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri
  ) GROUP BY a, b
),
efin AS MATERIALIZED (
  SELECT e.a, e.b FROM e6 e JOIN sup_efin s USING (a, b)
  WHERE s.support >= 1
)
SELECT e.a, e.b, CAST(coalesce(s.support, 0) AS BIGINT) AS support
FROM e6 e LEFT JOIN sup_efin s USING (a, b)
"""
)


def q236_components(spark, sf_dir):
    """Connected components of the analytics link graph (operators/
    graph.connected_components — Kiveris et al. 2014 min-label +
    pointer jumping, 6 pinned rounds): the isolated-site-cluster map a
    frontier shard planner reads before allocating fetchers.  Same edge
    synthesis as q40/q235.  (node, comp) with comp = min node id of the
    component, bit-exact int64."""
    from eget_spark.operators.graph import connected_components

    nodes, edges = _arith_edges(spark, sf_dir)
    return connected_components(edges, nodes, n_iter=6).select(
        F.col("node").cast("long"), F.col("comp").cast("long")
    )


_Q236_SQL = (
    "WITH RECURSIVE "
    + _EDGES_SQL.lstrip().removeprefix("WITH ")
    + r""",
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
sym AS (SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und),
allnodes AS (SELECT doc_id AS node FROM documents),
r(node, label) AS (
  SELECT node, node FROM allnodes
  UNION
  SELECT s.nbr, r.label FROM r JOIN sym s ON s.node = r.node
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(label) AS BIGINT) AS comp
FROM r GROUP BY node
"""
)


def q237_link_prediction(spark, sf_dir):
    """Neighborhood link-prediction scores (operators/
    graph.link_prediction_scores — Liben-Nowell & Kleinberg JASIST
    2007): top-100 node pairs by Adamic-Adar with common-neighbor
    count, Jaccard, and preferential attachment; hot pivots (undirected
    degree > 32) excluded BEFORE the self-join, AA terms int64
    micro-quantized before the sum (the q226 recipe).  High-scoring
    NON-edges are recrawl seed suggestions; spam rings score near-zero
    AA despite high degree.  (a, b, cn, jaccard, aa_micro, pref_attach,
    is_edge)."""
    from eget_spark.operators.graph import link_prediction_scores

    _, edges = _arith_edges(spark, sf_dir)
    return link_prediction_scores(edges, max_degree=32, k=100)


_Q237_SQL = (
    "WITH "
    + _EDGES_SQL.lstrip().removeprefix("WITH ")
    + r""",
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
sym AS (SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY node),
piv AS (
  SELECT s.node AS z, s.nbr, d.deg
  FROM sym s JOIN deg d ON d.node = s.node WHERE d.deg <= 32
),
pairs AS (
  SELECT x.nbr AS a, y.nbr AS b,
         CAST(count(*) AS BIGINT) AS cn,
         CAST(sum(CAST(round(1e6 / ln(x.deg)) AS BIGINT)) AS BIGINT)
           AS aa_micro
  FROM piv x JOIN piv y ON y.z = x.z AND x.nbr < y.nbr
  GROUP BY x.nbr, y.nbr
)
SELECT p.a, p.b, p.cn,
       round(p.cn / CAST(da.deg + db.deg - p.cn AS DOUBLE), 6) AS jaccard,
       p.aa_micro,
       CAST(da.deg * db.deg AS BIGINT) AS pref_attach,
       (e.a IS NOT NULL) AS is_edge
FROM pairs p
JOIN deg da ON da.node = p.a
JOIN deg db ON db.node = p.b
LEFT JOIN und e ON e.a = p.a AND e.b = p.b
ORDER BY p.aa_micro DESC, p.a, p.b LIMIT 100
"""
)


def q238_zipf(spark, sf_dir):
    """Zipf rank-frequency fit + vocabulary census (operators/
    corpus_stats.zipf_fit — Zipf 1949 / Baayen 2001): OLS of ln(cnt) on
    ln(rank) over the full vocabulary with int64 milli-quantized ln
    terms (exact integer moment sums, double combine), plus type/token/
    hapax/dis census — the distributional health check a crawl corpus
    gets before training.  One row: (n_types, n_tokens, hapax, dis,
    ttr, zipf_slope, zipf_intercept, zipf_r2).  Complements q196
    (top-1000 slope only): full-vocab regression + the census + R^2 —
    a template farm can fake slope -1 on the head while R^2 exposes
    the broken tail."""
    from eget_spark.operators.corpus_stats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


_OLS_SQL = """
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x*y) AS BIGINT) AS sxy,
         CAST(sum(x*x) AS BIGINT) AS sxx,
         CAST(sum(y*y) AS BIGINT) AS syy
  FROM pts
),
fit AS (
  SELECT n,
         (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) AS cov,
         (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS varx,
         (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) AS vary,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(n AS DOUBLE) AS nd
  FROM m
)"""

_Q238_SQL = (
    r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk FROM vocab
),
pts AS (
  SELECT CAST(round(ln(rnk)*1e3) AS BIGINT) AS x,
         CAST(round(ln(cnt)*1e3) AS BIGINT) AS y
  FROM ranked
),"""
    + _OLS_SQL
    + r""",
census AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
         round(count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS ttr
  FROM vocab
)
SELECT c.n_types, c.n_tokens, c.hapax, c.dis, c.ttr,
       round(f.cov / f.varx, 6) AS zipf_slope,
       round((f.syd - (f.cov / f.varx) * f.sxd) / f.nd / 1e3, 6)
         AS zipf_intercept,
       round(CASE WHEN f.vary > 0 THEN f.cov * f.cov / (f.varx * f.vary)
                  ELSE NULL END, 6) AS zipf_r2
FROM census c CROSS JOIN fit f
"""
)


def q239_heaps(spark, sf_dir):
    """Heaps vocabulary-growth fit (operators/corpus_stats.heaps_fit —
    Heaps 1978): ln(V) on ln(n) over per-document cumulative
    checkpoints (a type counts at its FIRST containing doc), so
    V ~ K*n^beta; beta -> 0 flags vocabulary exhaustion, the lexical
    twin of q217's Good-Turing frontier signal.  One row: (n_points,
    heaps_beta, heaps_intercept, heaps_r2).  Complements q191 (10 fixed
    id thresholds): every doc boundary is a checkpoint, plus intercept
    and R^2."""
    from eget_spark.operators.corpus_stats import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"))


_Q239_SQL = (
    r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM toks GROUP BY doc_id
),
first_doc AS (SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY tok),
new_types AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS new_types
  FROM first_doc GROUP BY doc_id
),
bounds AS (
  SELECT CAST(sum(pd.n_toks) OVER (ORDER BY pd.doc_id) AS BIGINT) AS n_cum,
         CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY pd.doc_id)
              AS BIGINT) AS v_cum
  FROM per_doc pd LEFT JOIN new_types nt USING (doc_id)
),
pts AS (
  SELECT CAST(round(ln(n_cum)*1e3) AS BIGINT) AS x,
         CAST(round(ln(v_cum)*1e3) AS BIGINT) AS y
  FROM bounds WHERE n_cum > 0 AND v_cum > 0
),"""
    + _OLS_SQL
    + r"""
SELECT n AS n_points,
       round(cov / varx, 6) AS heaps_beta,
       round((syd - (cov / varx) * sxd) / nd / 1e3, 6) AS heaps_intercept,
       round(CASE WHEN vary > 0 THEN cov * cov / (varx * vary)
                  ELSE NULL END, 6) AS heaps_r2
FROM fit
"""
)


def q240_textrank(spark, sf_dir):
    """TextRank keyword extraction (operators/keywords.textrank_keywords
    — Mihalcea & Tarau EMNLP 2004): top-3 keywords per document from
    5 pinned fixed-point rounds over the per-doc adjacent-word
    co-occurrence graph, int64 units of 1e-12 (the q40 pagerank_fixed
    discipline) — the whole corpus iterates as ONE keyed dataflow, no
    per-doc loop.  (id, word, rank_fp, kw_rank)."""
    from eget_spark.operators.keywords import textrank_keywords

    return textrank_keywords(_t(spark, sf_dir, "documents"), n_iter=5, k=3)


def _textrank_sql(n_iter: int = 5, k: int = 3) -> str:
    head = r"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents
),
pr AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ts) - 1),
                i -> {a: least(ts[i], ts[i+1]),
                      b: greatest(ts[i], ts[i+1])})) AS p
  FROM arr
),
und AS MATERIALIZED (
  SELECT DISTINCT doc_id, p.a AS a, p.b AS b FROM pr WHERE p.a <> p.b
),
sym AS MATERIALIZED (
  SELECT doc_id, a AS v, b AS u FROM und
  UNION ALL SELECT doc_id, b, a FROM und
),
deg AS MATERIALIZED (
  SELECT doc_id, v, CAST(count(*) AS BIGINT) AS deg
  FROM sym GROUP BY doc_id, v
),
topo AS MATERIALIZED (
  SELECT s.doc_id, s.v, s.u, d.deg
  FROM sym s JOIN deg d ON d.doc_id = s.doc_id AND d.v = s.u
),
r0 AS (SELECT doc_id, v AS w, CAST(1000000000000 AS BIGINT) AS r FROM deg)"""
    parts = [head]
    for i in range(1, n_iter + 1):
        parts.append(f""",
it{i} AS MATERIALIZED (
  SELECT t.doc_id, t.v AS w,
         CAST(150000000000 + (17 * CAST(sum(p.r // t.deg) AS BIGINT)) // 20
              AS BIGINT) AS r
  FROM topo t JOIN it{i - 1 if i > 1 else 0}
    p ON p.doc_id = t.doc_id AND p.w = t.u
  GROUP BY t.doc_id, t.v
)""".replace("it0", "r0"))
    parts.append(f"""
SELECT doc_id AS id, w AS word, r AS rank_fp, CAST(rn AS INT) AS kw_rank
FROM (
  SELECT doc_id, w, r,
         row_number() OVER (PARTITION BY doc_id ORDER BY r DESC, w) AS rn
  FROM it{n_iter}
) WHERE rn <= {k}
""")
    return "".join(parts)


_Q240_SQL = _textrank_sql(5, 3)


def q241_rake(spark, sf_dir):
    """RAKE keyphrase extraction (operators/keywords.rake_phrases —
    Rose et al. 2010): top-3 stopword-delimited candidate phrases per
    document by degree/frequency word scores in int64 micro-units —
    the multi-word companion to q240's TextRank terms.
    (id, phrase, score_micro, kw_rank)."""
    from eget_spark.operators.keywords import rake_phrases

    return rake_phrases(_t(spark, sf_dir, "documents"), k=3)


def _rake_sql(k: int = 3) -> str:
    from eget_spark.operators.keywords import RAKE_STOPWORDS

    stoplist = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    return rf"""
WITH fr2 AS (
  SELECT doc_id, f.fi AS fidx,
         list_filter(regexp_split_to_array(f.frag, '\s+'),
                     t -> t <> '') AS ws
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(fr)),
                  i -> {{fi: i, frag: fr[i]}})) AS f
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(text), '[^a-z0-9\s]+') AS fr
          FROM documents)
  )
),
marked AS (
  SELECT doc_id, fidx, t.pos AS pos, t.w AS w,
         t.w IN ({stoplist}) AS is_stop
  FROM (
    SELECT doc_id, fidx,
           unnest(list_transform(generate_series(1, len(ws)),
                  i -> {{pos: i, w: ws[i]}})) AS t
    FROM fr2
  )
),
pid AS (
  SELECT doc_id, fidx, pos, w, is_stop,
         sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id, fidx ORDER BY pos) AS phrase_id
  FROM marked
),
occ AS MATERIALIZED (
  SELECT doc_id, fidx, phrase_id, list(w ORDER BY pos) AS words
  FROM pid WHERE NOT is_stop GROUP BY doc_id, fidx, phrase_id
),
wsc AS (
  SELECT doc_id, w,
         (CAST(sum(plen) AS BIGINT) * 1000000)
           // CAST(count(*) AS BIGINT) AS wscore
  FROM (SELECT doc_id, len(words) AS plen, unnest(words) AS w FROM occ)
  GROUP BY doc_id, w
),
raw AS (
  SELECT m.doc_id, m.phrase, CAST(sum(s.wscore) AS BIGINT) AS _raw
  FROM (SELECT doc_id, array_to_string(words, ' ') AS phrase,
               unnest(words) AS w
        FROM occ) m
  JOIN wsc s ON s.doc_id = m.doc_id AND s.w = m.w
  GROUP BY m.doc_id, m.phrase
),
nocc AS (
  SELECT doc_id, array_to_string(words, ' ') AS phrase,
         CAST(count(*) AS BIGINT) AS n_occ
  FROM occ GROUP BY 1, 2
)
SELECT doc_id AS id, phrase, score_micro, CAST(rn AS INT) AS kw_rank
FROM (
  SELECT r.doc_id, r.phrase,
         CAST(r._raw // n.n_occ AS BIGINT) AS score_micro,
         row_number() OVER (
           PARTITION BY r.doc_id
           ORDER BY CAST(r._raw // n.n_occ AS BIGINT) DESC, r.phrase
         ) AS rn
  FROM raw r JOIN nocc n ON n.doc_id = r.doc_id AND n.phrase = r.phrase
) WHERE rn <= {k}
"""


_Q241_SQL = _rake_sql(3)


def q242_simrank(spark, sf_dir):
    """SimRank structural similarity (operators/graph.simrank_fixed —
    Jeh & Widom KDD 2002): top-100 off-diagonal pairs after 3 pinned
    rounds from the identity, C=4/5, int64 1e-12 units with one
    truncating division per pair per round — link-topology dedup that
    surfaces co-cited near-substitutes MinHash cannot see.  Same edge
    synthesis as q40.  (a, b, sim_fp)."""
    from eget_spark.operators.graph import simrank_fixed

    nodes, edges = _arith_edges(spark, sf_dir)
    return simrank_fixed(nodes, edges, n_iter=3, k=100)


def _simrank_sql(n_iter: int = 3, k: int = 100) -> str:
    head = (
        "WITH "
        + _EDGES_SQL.lstrip().removeprefix("WITH ")
        + r""",
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
ind AS MATERIALIZED (
  SELECT dst, CAST(count(*) AS BIGINT) AS ind FROM e GROUP BY dst
),
diag AS (
  SELECT doc_id AS u, doc_id AS v, CAST(1000000000000 AS BIGINT) AS s
  FROM documents
),
s0 AS (SELECT * FROM diag)"""
    )
    parts = [head]
    for i in range(1, n_iter + 1):
        parts.append(f""",
s{i} AS MATERIALIZED (
  SELECT * FROM diag
  UNION ALL
  SELECT a AS u, b AS v, sim AS s FROM (
    SELECT q.a, q.b,
           CAST((4 * q.tot) // (5 * ia.ind * ib.ind) AS BIGINT) AS sim
    FROM (
      SELECT e1.dst AS a, e2.dst AS b, CAST(sum(p.s) AS BIGINT) AS tot
      FROM s{i - 1} p
      JOIN e e1 ON e1.src = p.u
      JOIN e e2 ON e2.src = p.v
      WHERE e1.dst <> e2.dst
      GROUP BY e1.dst, e2.dst
    ) q JOIN ind ia ON ia.dst = q.a JOIN ind ib ON ib.dst = q.b
  ) WHERE sim > 0
)""")
    parts.append(f"""
SELECT u AS a, v AS b, s AS sim_fp FROM s{n_iter}
WHERE u < v ORDER BY s DESC, u, v LIMIT {k}
""")
    return "".join(parts)


_Q242_SQL = _simrank_sql(3, 100)


def q243_refresh_policies(spark, sf_dir):
    """Refresh-policy freshness comparison (operators/
    recrawl.refresh_policy_freshness — Cho & Garcia-Molina TODS 2003):
    expected corpus freshness of uniform vs proportional revisit
    allocation over synthetic per-page Poisson rates
    (``((doc_id*7+3) % 23) * 0.5``/day, zero included), budget one
    check/page/day; per-page freshness ppm-quantized before the exact
    integer mean.  The paper's uniform>proportional headline is pinned
    in tests.  (policy, n_pages, budget_per_day_ppm, mean_fresh_ppm)."""
    from eget_spark.operators.recrawl import refresh_policy_freshness

    docs = _t(spark, sf_dir, "documents")
    rates = docs.select(
        F.col("doc_id").alias("id"),
        (((F.col("doc_id") * 7 + 3) % 23) * 500_000)
        .cast("long")
        .alias("rate_ppm"),
    )
    n = docs.count()
    return refresh_policy_freshness(rates, n * 1_000_000)


_Q243_SQL = r"""
WITH base AS (
  SELECT doc_id AS id,
         CAST(((doc_id*7+3) % 23) * 500000 AS BIGINT) AS lam_ppm
  FROM documents
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lam_ppm) AS BIGINT) AS sum_lam
  FROM base
),
per AS (
  SELECT
    CASE WHEN lam_ppm = 0 THEN CAST(1000000 AS BIGINT)
         ELSE CAST(round(
           1e6 * (1 - exp(-(CAST(lam_ppm AS DOUBLE) * CAST(n AS DOUBLE)
                            / (CAST(n AS DOUBLE) * 1e6))))
               / (CAST(lam_ppm AS DOUBLE) * CAST(n AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 1e6))) AS BIGINT) END AS fu,
    CASE WHEN lam_ppm = 0 THEN CAST(1000000 AS BIGINT)
         ELSE CAST(round(
           1e6 * (1 - exp(-(CAST(sum_lam AS DOUBLE)
                            / (CAST(n AS DOUBLE) * 1e6))))
               / (CAST(sum_lam AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 1e6))) AS BIGINT) END AS fp
  FROM base CROSS JOIN tot
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(fu) AS BIGINT) AS su,
         CAST(sum(fp) AS BIGINT) AS sp
  FROM per
),
b AS (SELECT CAST(n * 1000000 AS BIGINT) AS budget FROM tot)
SELECT policy, n_pages, budget_per_day_ppm, mean_fresh_ppm FROM (
  SELECT 'proportional' AS policy, s.n AS n_pages,
         b.budget AS budget_per_day_ppm,
         CAST(s.sp // s.n AS BIGINT) AS mean_fresh_ppm
  FROM s CROSS JOIN b
  UNION ALL
  SELECT 'uniform', s.n, b.budget, CAST(s.su // s.n AS BIGINT)
  FROM s CROSS JOIN b
) ORDER BY policy
"""


def q244_diversity(spark, sf_dir):
    """Source-diversity indices (operators/fairness.diversity_indices —
    Shannon 1948 / Simpson 1949 / Berger-Parker 1970): richness,
    Shannon entropy in int64 micro-nats (per-group terms quantized
    before the sum), effective source count exp(H), unbiased Simpson
    concentration and Berger-Parker dominance in exact integer units —
    how many EFFECTIVE sources the corpus mix really has.  One row over
    documents.source."""
    from eget_spark.operators.fairness import diversity_indices

    return diversity_indices(_t(spark, sf_dir, "documents"), "source")


_Q244_SQL = r"""
WITH counts AS (
  SELECT source AS k, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM counts),
per AS (
  SELECT n, n_tot,
         CAST(round(-1e6 * (CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE))
                    * ln(CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE)))
              AS BIGINT) AS h_term,
         CAST(n * (n - 1) AS BIGINT) AS n2
  FROM counts CROSS JOIN tot
)
SELECT CAST(count(*) AS BIGINT) AS richness,
       CAST(sum(h_term) AS BIGINT) AS shannon_micro,
       round(exp(CAST(sum(h_term) AS BIGINT) / 1e6), 6) AS eff_sources,
       CASE WHEN max(n_tot) > 1
            THEN CAST((CAST(sum(n2) AS BIGINT) * 1000000)
                      // (max(n_tot) * (max(n_tot) - 1)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS simpson_permicro,
       CAST((max(n) * 1000000) // max(n_tot) AS BIGINT)
         AS berger_parker_micro
FROM per
"""


def q245_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis A-Res weighted sampling (operators/
    sampling.weighted_sample_ares — IPL 2006): 20 documents sampled
    without replacement with probability proportional to n_chars, via
    the deterministic md5-60bit uniform and the monotone ln(u)/w key —
    the one-pass mergeable weighted sampler (per-partition top-k then
    global top-k).  (id, weight, es_key)."""
    from eget_spark.operators.sampling import weighted_sample_ares

    return weighted_sample_ares(
        _t(spark, sf_dir, "documents"), "doc_id", "n_chars", k=20
    )


_Q245_SQL = r"""
SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS weight,
       round(ln(greatest(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                              1, 15)) AS BIGINT), 1)
                / 1152921504606846976.0)
             / CAST(n_chars AS DOUBLE), 6) AS es_key
FROM documents
ORDER BY es_key DESC, id LIMIT 20
"""


def q246_spotsigs(spark, sf_dir):
    """SpotSigs near-duplicate pairs (operators/dedup.spotsig_pairs —
    Theobald et al. SIGIR 2008): stopword-anchored signature chains
    (anchor + next 2 non-stopwords), exact Jaccard >= 0.5 over DISTINCT
    signature sets via the inverted-index join, signatures in > 50 docs
    pruned BEFORE the self-join (pinned df-cap) — the boilerplate-blind
    dedup family.  (id_a, id_b, jaccard)."""
    from eget_spark.operators.dedup import spotsig_pairs

    return spotsig_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.5,
        max_df=50,
    )


_Q246_SQL = r"""
WITH toks AS (
  SELECT doc_id, t.pos AS pos, t.w AS w,
         t.w IN ('the', 'a', 'an', 'is', 'was', 'it', 'there') AS is_stop
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ts)),
                  i -> {pos: i, w: ts[i]})) AS t
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             x -> x <> '') AS ts
          FROM documents)
  )
),
ranked AS (
  SELECT doc_id, pos, w, is_stop,
         sum(CASE WHEN is_stop THEN 0 ELSE 1 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS ns_cum
  FROM toks
),
anchors AS (
  SELECT doc_id, pos AS apos, w AS anchor, ns_cum + g.g AS want
  FROM ranked, (SELECT unnest([1, 2]) AS g) g
  WHERE is_stop
),
nonstop AS (
  SELECT doc_id, ns_cum AS want, w AS cw FROM ranked WHERE NOT is_stop
),
chains AS (
  SELECT a.doc_id, a.apos, a.anchor,
         count(*) AS n_chain,
         a.anchor || ':' || string_agg(n.cw, ':' ORDER BY n.want) AS sig
  FROM anchors a
  JOIN nonstop n ON n.doc_id = a.doc_id AND n.want = a.want
  GROUP BY a.doc_id, a.apos, a.anchor
),
sigs AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id, sig FROM chains WHERE n_chain = 2
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM sigs GROUP BY id),
rare AS (
  SELECT sig FROM (SELECT sig, count(*) AS df FROM sigs GROUP BY sig)
  WHERE df <= 50
),
j AS (SELECT s.id, s.sig FROM sigs s JOIN rare USING (sig)),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS inter
  FROM j a JOIN j b ON a.sig = b.sig AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, jaccard FROM (
  SELECT i.id_a, i.id_b,
         round(i.inter / CAST(sa.n + sb.n - i.inter AS DOUBLE), 6)
           AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.id = i.id_a
  JOIN sizes sb ON sb.id = i.id_b
) WHERE jaccard >= 0.5
"""


def q247_wl_colors(spark, sf_dir):
    """Weisfeiler-Leman structural color classes (operators/
    graph.wl_colors — WL 1968 / Shervashidze JMLR 2011): 3 pinned
    refinement rounds with the commutative sum-mod-2^40 + count
    neighbor fold (map-side combinable — no sorted multiset on a
    reducer) over portable md5-60bit colors; the top-50 color classes
    by size — mirror farms and doorway lattices collapse into giant
    classes organic sites never form.  (color, n_nodes)."""
    from eget_spark.operators.graph import wl_colors

    nodes, edges = _arith_edges(spark, sf_dir)
    cols = wl_colors(nodes, edges, n_iter=3)
    return (
        cols.groupBy("color")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), "color")
        .limit(50)
    )


def _wl_sql(n_iter: int = 3, k: int = 50) -> str:
    h = lambda expr: (
        "CAST(('0x' || substr(md5(" + expr + "), 1, 15)) AS BIGINT)"
    )
    head = (
        "WITH "
        + _EDGES_SQL.lstrip().removeprefix("WITH ")
        + rf""",
e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e),
sym AS MATERIALIZED (SELECT a AS id, b AS nbr FROM und
                     UNION ALL SELECT b, a FROM und),
deg0 AS (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM sym GROUP BY id),
c0 AS MATERIALIZED (
  SELECT d.doc_id AS id,
         {h("CAST(coalesce(g.dg, 0) AS VARCHAR)")} AS color
  FROM documents d LEFT JOIN deg0 g ON g.id = d.doc_id
)"""
    )
    parts = [head]
    for i in range(1, n_iter + 1):
        expr = (
            "CAST(c.color AS VARCHAR) || ':' || "
            "CAST(coalesce(n.hsum, 0) AS VARCHAR) || ':' || "
            "CAST(coalesce(n.hcnt, 0) AS VARCHAR)"
        )
        parts.append(f""",
c{i} AS MATERIALIZED (
  SELECT c.id, {h(expr)} AS color
  FROM c{i - 1} c LEFT JOIN (
    SELECT s.id,
           CAST(sum(p.color % 1099511627776) AS BIGINT) AS hsum,
           CAST(count(*) AS BIGINT) AS hcnt
    FROM sym s JOIN c{i - 1} p ON p.id = s.nbr GROUP BY s.id
  ) n ON n.id = c.id
)""")
    parts.append(f"""
SELECT color, CAST(count(*) AS BIGINT) AS n_nodes
FROM c{n_iter} GROUP BY color
ORDER BY n_nodes DESC, color LIMIT {k}
""")
    return "".join(parts)


_Q247_SQL = _wl_sql(3, 50)


def q248_collocations(spark, sf_dir):
    """Corpus collocation mining (operators/collocations.
    collocation_scores — Church & Hanks 1990 PMI; Dunning 1993
    log-likelihood ratio): top-100 adjacent bigrams by G² over
    bigram-event margins (every 2x2 cell a non-negative integer by
    construction), min support 5, PMI and LLR in micro-nats — the
    phrase-level boilerplate signal (template fragments score huge G²).
    (w1, w2, c12, c1, c2, pmi_micro, llr_micro)."""
    from eget_spark.operators.collocations import collocation_scores

    docs = _t(spark, sf_dir, "documents")
    return collocation_scores(docs, "doc_id", "text", min_count=5, k=100)


_Q248_SQL = r"""
WITH docs_l AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos FROM docs_l
),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM (SELECT a.w AS w1, b.w AS w2
        FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
  GROUP BY w1, w2
),
m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bi GROUP BY w1),
m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM bi GROUP BY w2),
tot AS (SELECT CAST(sum(c12) AS BIGINT) AS t FROM bi)
SELECT w1, w2, c12, c1, c2,
  CAST(round(ln(c12 * CAST(t AS DOUBLE)
                / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) * 1e6)
       AS BIGINT) AS pmi_micro,
  CAST(round(2.0 * (
      (CASE WHEN c12 > 0 THEN
        CAST(c12 AS DOUBLE) * ln(CAST(c12 AS DOUBLE) * CAST(t AS DOUBLE)
          / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) ELSE 0.0 END)
    + (CASE WHEN c1 - c12 > 0 THEN
        CAST(c1 - c12 AS DOUBLE) * ln(CAST(c1 - c12 AS DOUBLE)
          * CAST(t AS DOUBLE)
          / (CAST(c1 AS DOUBLE) * (CAST(t AS DOUBLE) - CAST(c2 AS DOUBLE))))
       ELSE 0.0 END)
    + (CASE WHEN c2 - c12 > 0 THEN
        CAST(c2 - c12 AS DOUBLE) * ln(CAST(c2 - c12 AS DOUBLE)
          * CAST(t AS DOUBLE)
          / ((CAST(t AS DOUBLE) - CAST(c1 AS DOUBLE)) * CAST(c2 AS DOUBLE)))
       ELSE 0.0 END)
    + (CASE WHEN t - c1 - c2 + c12 > 0 THEN
        CAST(t - c1 - c2 + c12 AS DOUBLE) * ln(CAST(t - c1 - c2 + c12
          AS DOUBLE) * CAST(t AS DOUBLE)
          / ((CAST(t AS DOUBLE) - CAST(c1 AS DOUBLE))
             * (CAST(t AS DOUBLE) - CAST(c2 AS DOUBLE))))
       ELSE 0.0 END)
  ) * 1e6) AS BIGINT) AS llr_micro
FROM bi JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
WHERE c12 >= 5
ORDER BY llr_micro DESC, w1, w2 LIMIT 100
"""


def q249_source_divergence(spark, sf_dir):
    """Per-source unigram divergence from the corpus mixture (operators/
    divergence.group_divergences — the KL/cross-entropy primitives of
    Moore-Lewis 2010 / DSIR 2023 / DoReMi 2023 data selection): Shannon
    entropy, cross-entropy under the corpus distribution, and
    KL(source || corpus), each an int64 micro-nat sum with per-token
    quantization BEFORE the sum (reduction-order independent).  One row
    per documents.source — off-domain sources surface as KL outliers.
    (source, n_toks, n_types, h_micro, ce_micro, kl_micro)."""
    from eget_spark.operators.divergence import group_divergences

    return group_divergences(_t(spark, sf_dir, "documents"), "source", "text")


_Q249_SQL = r"""
WITH toks AS (
  SELECT source AS grp, unnest(
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                t -> t <> '')) AS tok
  FROM documents
),
gt AS (
  SELECT grp, tok, CAST(count(*) AS BIGINT) AS n_gt
  FROM toks GROUP BY grp, tok
),
g_tot AS (SELECT grp, CAST(sum(n_gt) AS BIGINT) AS n_g FROM gt GROUP BY grp),
vocab AS (SELECT tok, CAST(sum(n_gt) AS BIGINT) AS n_t FROM gt GROUP BY tok),
tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n FROM vocab),
terms AS (
  SELECT gt.grp, gt.n_gt,
    CAST(round(-(CAST(gt.n_gt AS DOUBLE) / CAST(g.n_g AS DOUBLE))
               * ln(CAST(gt.n_gt AS DOUBLE) / CAST(g.n_g AS DOUBLE)) * 1e6)
         AS BIGINT) AS h_term,
    CAST(round(-(CAST(gt.n_gt AS DOUBLE) / CAST(g.n_g AS DOUBLE))
               * ln(CAST(v.n_t AS DOUBLE) / CAST(t.n AS DOUBLE)) * 1e6)
         AS BIGINT) AS ce_term,
    CAST(round((CAST(gt.n_gt AS DOUBLE) / CAST(g.n_g AS DOUBLE))
               * ln((CAST(gt.n_gt AS DOUBLE) / CAST(g.n_g AS DOUBLE))
                    / (CAST(v.n_t AS DOUBLE) / CAST(t.n AS DOUBLE))) * 1e6)
         AS BIGINT) AS kl_term
  FROM gt JOIN g_tot g ON g.grp = gt.grp
  JOIN vocab v ON v.tok = gt.tok CROSS JOIN tot t
)
SELECT grp AS source,
       CAST(sum(n_gt) AS BIGINT) AS n_toks,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(h_term) AS BIGINT) AS h_micro,
       CAST(sum(ce_term) AS BIGINT) AS ce_micro,
       CAST(sum(kl_term) AS BIGINT) AS kl_micro
FROM terms GROUP BY grp ORDER BY grp
"""


def q250_bradley_terry(spark, sf_dir):
    """Bradley-Terry source strengths (operators/preference — Bradley &
    Terry 1952; Hunter 2004 MM): pairwise wins = strict n_chars
    dominance between doc pairs across sources, computed via per-source
    value histograms + an exclusive running count (never a quadratic
    doc-pair join); 3 pinned MM rounds in int64 micro units with
    truncating division and mass renormalization — the preference-
    aggregation primitive behind rater/LLM-judge leaderboards.
    (item, wins, comparisons, bt_fp)."""
    from eget_spark.operators.preference import (
        bradley_terry_fixed,
        pairwise_wins_by_value,
    )

    docs = _t(spark, sf_dir, "documents")
    wins = pairwise_wins_by_value(docs, "source", "n_chars")
    items = docs.select("source").distinct()
    return bradley_terry_fixed(wins, items, n_rounds=3)


def _bt_sql(n_rounds: int = 3) -> str:
    head = r"""
WITH hist AS (
  SELECT source AS item, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars
),
wins AS (
  SELECT a.item AS a, b.item AS b, CAST(sum(a.c * b.c) AS BIGINT) AS wins
  FROM hist a JOIN hist b ON a.item <> b.item AND a.v > b.v
  GROUP BY a.item, b.item
),
pairs AS (
  SELECT coalesce(w1.a, w2.b) AS i, coalesce(w1.b, w2.a) AS j,
         CAST(coalesce(w1.wins, 0) AS BIGINT) AS w_ij,
         CAST(coalesce(w1.wins, 0) + coalesce(w2.wins, 0) AS BIGINT) AS n_ij
  FROM wins w1 FULL OUTER JOIN wins w2 ON w1.a = w2.b AND w1.b = w2.a
),
base AS (
  SELECT it.i, CAST(coalesce(t.w_tot, 0) AS BIGINT) AS w_tot,
         CAST(coalesce(t.n_tot, 0) AS BIGINT) AS n_tot
  FROM (SELECT DISTINCT source AS i FROM documents) it
  LEFT JOIN (
    SELECT i, CAST(sum(w_ij) AS BIGINT) AS w_tot,
           CAST(sum(n_ij) AS BIGINT) AS n_tot
    FROM pairs GROUP BY i
  ) t ON t.i = it.i
),
s_ AS (SELECT CAST(count(*) AS BIGINT) AS s FROM base),
p0 AS (SELECT i, CAST(1000000 AS BIGINT) AS p FROM base)"""
    parts = [head]
    for r in range(1, n_rounds + 1):
        parts.append(f""",
d{r} AS (
  SELECT pr.i,
         CAST(sum(pr.n_ij * CAST(1000000000000 AS BIGINT)
                  // greatest(pi.p + pj.p, 1)) AS BIGINT) AS denom
  FROM pairs pr
  JOIN p{r - 1} pi ON pi.i = pr.i
  JOIN p{r - 1} pj ON pj.i = pr.j
  GROUP BY pr.i
),
r{r} AS (
  SELECT b.i,
         CAST(b.w_tot * CAST(1000000000000 AS BIGINT)
              // greatest(coalesce(d.denom, 0), 1) AS BIGINT) AS pr
  FROM base b LEFT JOIN d{r} d ON d.i = b.i
),
m{r} AS (SELECT CAST(sum(pr) AS BIGINT) AS tot FROM r{r}),
p{r} AS (
  SELECT r.i,
         CAST(r.pr * (s.s * CAST(1000000 AS BIGINT))
              // greatest(m.tot, 1) AS BIGINT) AS p
  FROM r{r} r CROSS JOIN m{r} m CROSS JOIN s_ s
)""")
    parts.append(f"""
SELECT b.i AS item, b.w_tot AS wins, b.n_tot AS comparisons,
       p.p AS bt_fp
FROM base b JOIN p{n_rounds} p ON p.i = b.i
ORDER BY bt_fp DESC, item
""")
    return "".join(parts)


_Q250_SQL = _bt_sql(3)


def q251_ucb_schedule(spark, sf_dir):
    """UCB1 recrawl-budget scheduling (operators/bandit.ucb1_scores —
    Auer et al. 2002): each document row is one historical pull of its
    host arm (40 hosts, ``h{doc_id % 40}``), reward 1 when the fetch
    found change (pinned hash rule — change propensity grows with the
    host index, so exploitation must fight the optimism bonus); top-20
    arms by ``mean + sqrt(2 ln N / n)`` in micro units — the adaptive
    complement to q243's known-rate refresh policies.
    (arm, pulls, wins, mean_micro, bonus_micro, ucb_micro)."""
    from eget_spark.operators.bandit import ucb1_scores

    docs = _t(spark, sf_dir, "documents")
    pulls = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias(
            "host"
        ),
        F.when(
            (F.col("doc_id") * 2654435761) % 100 < (F.col("doc_id") % 40) * 2,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("reward"),
    )
    return ucb1_scores(pulls, "host", "reward", k=20)


_Q251_SQL = r"""
WITH pulls AS (
  SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS arm,
         CASE WHEN (doc_id * 2654435761) % 100 < (doc_id % 40) * 2
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS reward
  FROM documents
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS pulls,
         CAST(sum(reward) AS BIGINT) AS wins
  FROM pulls GROUP BY arm
),
tot AS (SELECT CAST(sum(pulls) AS BIGINT) AS n FROM arms)
SELECT arm, pulls, wins,
       CAST(wins * 1000000 // pulls AS BIGINT) AS mean_micro,
       CAST(round(sqrt(2.0 * ln(CAST(n AS DOUBLE)) / CAST(pulls AS DOUBLE))
                  * 1e6) AS BIGINT) AS bonus_micro,
       CAST(wins * 1000000 // pulls
            + CAST(round(sqrt(2.0 * ln(CAST(n AS DOUBLE))
                              / CAST(pulls AS DOUBLE)) * 1e6) AS BIGINT)
            AS BIGINT) AS ucb_micro
FROM arms CROSS JOIN tot
ORDER BY ucb_micro DESC, arm LIMIT 20
"""


def q252_calibration(spark, sf_dir):
    """Classifier-calibration audit (operators/calibration.
    calibration_bins — Naeini et al. AAAI 2015 / Guo et al. ICML 2017):
    reliability-diagram bins + expected calibration error over a
    synthetic scored corpus — score_ppm from a pinned multiplicative
    hash, label drawn so P(label=1) tracks the score (a roughly-
    calibrated classifier with binomial noise, so per-bin gaps are
    small but nonzero and ECE > 0); the audit every q150-style quality
    gate needs before its threshold means anything.
    (bin, n, pos, conf_ppm, acc_ppm, gap_ppm, ece_ppm)."""
    from eget_spark.operators.calibration import calibration_bins

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.expr("(doc_id * 2654435761) % 1000001").alias("score_ppm"),
        F.expr(
            "CAST(CASE WHEN (doc_id * 1103515245 + 12345) % 1000000"
            "  < (doc_id * 2654435761) % 1000001 THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("label"),
    )
    return calibration_bins(scored, "score_ppm", "label", n_bins=10)


_Q252_SQL = r"""
WITH scored AS (
  SELECT (doc_id * 2654435761) % 1000001 AS score_ppm,
         CASE WHEN (doc_id * 1103515245 + 12345) % 1000000
                   < (doc_id * 2654435761) % 1000001
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS label
  FROM documents
),
bins AS (
  SELECT least(score_ppm * 10 // 1000000, 9) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS pos,
         CAST(sum(score_ppm) AS BIGINT) AS s_sum
  FROM scored GROUP BY 1
),
stats AS (
  SELECT bin, n, pos,
         CAST(s_sum // n AS BIGINT) AS conf_ppm,
         CAST(pos * 1000000 // n AS BIGINT) AS acc_ppm
  FROM bins
),
gapped AS (
  SELECT *, CAST(abs(acc_ppm - conf_ppm) AS BIGINT) AS gap_ppm FROM stats
),
ece AS (
  SELECT CAST(sum(n * gap_ppm) // sum(n) AS BIGINT) AS ece_ppm FROM gapped
)
SELECT bin, n, pos, conf_ppm, acc_ppm, gap_ppm, ece_ppm
FROM gapped CROSS JOIN ece
ORDER BY bin
"""


_Q253_LABEL_A = (
    "CASE WHEN n_chars < 220 THEN 'short'"
    " WHEN n_chars < 380 THEN 'mid' ELSE 'long' END"
)
# rater B: same rubric, but every 7th doc (pinned hash) rotates the label
# one step (short->mid->long->short) — a systematically sloppier rater
_Q253_LABEL_B = (
    f"CASE WHEN (doc_id * 2654435761) % 7 <> 0 THEN {_Q253_LABEL_A}"
    f" WHEN {_Q253_LABEL_A} = 'short' THEN 'mid'"
    f" WHEN {_Q253_LABEL_A} = 'mid' THEN 'long'"
    " ELSE 'short' END"
)


def q253_rater_agreement(spark, sf_dir):
    """Cohen's kappa inter-rater agreement (operators/agreement.
    cohens_kappa — Cohen 1960, Landis & Koch 1977 bands): two pinned
    deterministic raters label every document's length tier; rater B
    rotates every 7th label, so observed agreement ~86% against a
    three-way margin — kappa lands in the 'substantial' band, well
    below raw percent agreement.  The reliability check that must pass
    before q250's Bradley-Terry aggregation of the same raters means
    anything.  (n_items, agree, po, pe, kappa)."""
    from eget_spark.operators.agreement import cohens_kappa

    docs = _t(spark, sf_dir, "documents")
    rated = docs.select(
        F.expr(_Q253_LABEL_A).alias("label_a"),
        F.expr(_Q253_LABEL_B).alias("label_b"),
    )
    return cohens_kappa(rated)


_Q253_SQL = rf"""
WITH rated AS (
  SELECT {_Q253_LABEL_A} AS a, {_Q253_LABEL_B} AS b FROM documents
),
obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM rated
),
ma AS (SELECT a AS c, CAST(count(*) AS BIGINT) AS na FROM rated GROUP BY a),
mb AS (SELECT b AS c, CAST(count(*) AS BIGINT) AS nb FROM rated GROUP BY b),
chance AS (
  SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS pe_num
  FROM ma JOIN mb USING (c)
),
ratios AS (
  SELECT n_items, agree,
         round(agree / CAST(n_items AS DOUBLE), 6) AS po,
         round(pe_num / CAST(n_items * n_items AS DOUBLE), 6) AS pe
  FROM obs CROSS JOIN chance
)
SELECT n_items, agree, po, pe,
       CASE WHEN pe < 1.0 THEN round((po - pe) / (1.0 - pe), 6) END AS kappa
FROM ratios
"""


_Q254_VALUE = (
    "100 + (doc_id * 2654435761) % 21 - 10"
    " + CASE WHEN (doc_id % 25) % 5 = 0 AND doc_id DIV 25 >= 10"
    "        THEN 30 ELSE 0 END"
)


def q254_latency_drift(spark, sf_dir):
    """CUSUM drift detection (operators/drift.cusum_drift — Page
    Biometrika 1954 via the running-sum/running-min closed form, no
    per-row recursion): 25 synthetic per-host latency ledgers (pinned
    hash noise around 100 ms), every 5th host steps +30 ms at its 10th
    fetch; reference k=110 (mean + slack), alarm h=60 — the stepped
    hosts alarm within ~3 post-shift fetches, clean hosts never
    accumulate.  The metric-level complement to q82's content snapshot
    diffs and q116's rate anomalies.
    (key, n, max_cusum, alarm_ts, drifted)."""
    from eget_spark.operators.drift import cusum_drift

    docs = _t(spark, sf_dir, "documents")
    series = docs.select(
        F.expr("concat('h', CAST(doc_id % 25 AS STRING))").alias("host"),
        F.expr("doc_id DIV 25").alias("ts"),
        F.expr(_Q254_VALUE).cast("long").alias("value"),
    )
    return cusum_drift(series, "host", "ts", "value", k=110, h=60).orderBy(
        "key"
    )


_Q254_SQL = rf"""
WITH series AS (
  SELECT 'h' || CAST(doc_id % 25 AS VARCHAR) AS key,
         doc_id // 25 AS ts,
         CAST({_Q254_VALUE.replace("DIV", "//")} AS BIGINT) AS value
  FROM documents
),
cummed AS (
  SELECT key, ts,
         sum(value - 110) OVER (PARTITION BY key ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM series
),
stepped AS (
  SELECT key, ts,
         cum - least(min(cum) OVER (PARTITION BY key ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
  FROM cummed
)
SELECT key, CAST(count(*) AS BIGINT) AS n,
       CAST(max(s) AS BIGINT) AS max_cusum,
       min(CASE WHEN s >= 60 THEN ts END) AS alarm_ts,
       max(s) >= 60 AS drifted
FROM stepped GROUP BY key ORDER BY key
"""


def q255_benford_audit(spark, sf_dir):
    """Benford leading-digit audit (operators/audit.benford_digit_audit
    — Newcomb 1881 / Benford 1938 / Nigrini forensics): per-source
    first-digit histograms of content length vs the pinned
    round(log10(1+1/d)*1e6) ppm table (sums to exactly 1e6 — no engine
    computes a transcendental); every (source, digit) cell emitted
    including obs=0, exact int64 deviations, one round-6 double
    division per cell for the chi-square contribution.  The forensic
    screen for template farms whose 'organic' size profile isn't.
    (grp, digit, n, obs, exp_ppm, dev_micro, chi2_c)."""
    from eget_spark.operators.audit import benford_digit_audit

    docs = _t(spark, sf_dir, "documents")
    return benford_digit_audit(docs, "source", "n_chars")


_Q255_SQL = r"""
WITH vals AS (
  SELECT source AS grp,
         CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM documents WHERE n_chars > 0
),
obs AS (
  SELECT grp, digit, CAST(count(*) AS BIGINT) AS obs
  FROM vals GROUP BY grp, digit
),
margins AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY grp),
spine AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS digit),
grid AS (
  SELECT m.grp, s.digit, m.n,
         CAST(CASE s.digit
              WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
              WHEN 4 THEN 96910  WHEN 5 THEN 79181  WHEN 6 THEN 66947
              WHEN 7 THEN 57992  WHEN 8 THEN 51153  ELSE 45757
              END AS BIGINT) AS exp_ppm
  FROM margins m CROSS JOIN spine s
),
full_ AS (
  SELECT g.grp, g.digit, g.n, CAST(coalesce(o.obs, 0) AS BIGINT) AS obs,
         g.exp_ppm,
         CAST(coalesce(o.obs, 0) * 1000000 - g.n * g.exp_ppm AS BIGINT)
           AS dev_micro
  FROM grid g LEFT JOIN obs o ON o.grp = g.grp AND o.digit = g.digit
)
SELECT grp, digit, n, obs, exp_ppm, dev_micro,
       round((CAST(dev_micro AS DOUBLE) * CAST(dev_micro AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(exp_ppm AS DOUBLE) * 1e6), 6)
         AS chi2_c
FROM full_
ORDER BY grp, digit
"""


_Q256_VALUE = (
    "CASE (doc_id % 20) % 3"
    " WHEN 0 THEN 100 + 2 * (doc_id DIV 20) + (doc_id * 2654435761) % 7"
    " WHEN 1 THEN 500 - 3 * (doc_id DIV 20) + (doc_id * 2654435761) % 7"
    " ELSE 200 + (doc_id * 2654435761) % 7 END"
)


def q256_host_trends(spark, sf_dir):
    """Mann-Kendall trend + Theil-Sen slope (operators/trend.trend_tests
    — Mann 1945 / Kendall 1975 / Theil 1950 / Sen 1968): robust
    monotone-drift tests over 20 synthetic per-host metric ledgers
    (one third ramps +2/step, one third -3/step, one third flat, all
    under pinned hash noise); the median slope is returned doubled
    (lower+upper middle) so it stays an exact integer, pairwise slopes
    exact truncating int64 ppm, per-key pair fan-out capped at
    max_points^2/2.  The outlier-proof complement to the q191/q196/
    q238/q239 OLS fitters and q254's step detector.
    (key, n_points, n_pairs, mk_s, sen_x2_ppm, trend)."""
    from eget_spark.operators.trend import trend_tests

    docs = _t(spark, sf_dir, "documents")
    series = docs.select(
        F.expr("concat('h', CAST(doc_id % 20 AS STRING))").alias("host"),
        F.expr("doc_id DIV 20").alias("ts"),
        F.expr(_Q256_VALUE).cast("long").alias("value"),
    )
    return trend_tests(series, "host", "ts", "value", max_points=40)


_Q256_SQL = rf"""
WITH series AS (
  SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS key,
         doc_id // 20 AS t,
         CAST({_Q256_VALUE.replace("DIV", "//")} AS BIGINT) AS v
  FROM documents
),
capped AS (
  SELECT key, t, v FROM (
    SELECT key, t, v,
           row_number() OVER (PARTITION BY key ORDER BY t) AS rn
    FROM series
  ) WHERE rn <= 40
),
pairs AS (
  SELECT a.key, a.t AS ti, b.t AS tj,
         CAST(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1
              ELSE 0 END AS BIGINT) AS sgn,
         CAST((b.v - a.v) * 1000000 // (b.t - a.t) AS BIGINT) AS slope_ppm
  FROM capped a JOIN capped b ON a.key = b.key AND a.t < b.t
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY key
                            ORDER BY slope_ppm, ti, tj) AS rn,
         count(*) OVER (PARTITION BY key) AS np
  FROM pairs
),
pstats AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(sgn) AS BIGINT) AS mk_s,
         CAST(sum(CASE WHEN rn = (np + 1) // 2 THEN slope_ppm END)
              + sum(CASE WHEN rn = (np + 2) // 2 THEN slope_ppm END)
              AS BIGINT) AS sen_x2_ppm
  FROM ranked GROUP BY key
),
points AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_points FROM capped GROUP BY key
)
SELECT p.key, p.n_points,
       CAST(coalesce(s.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(s.mk_s, 0) AS BIGINT) AS mk_s,
       s.sen_x2_ppm,
       CASE WHEN coalesce(s.mk_s, 0) > 0 THEN 'up'
            WHEN coalesce(s.mk_s, 0) < 0 THEN 'down'
            ELSE 'flat' END AS trend
FROM points p LEFT JOIN pstats s USING (key)
ORDER BY key
"""


def q257_supershingles(spark, sf_dir):
    """Broder super-shingle near-dup candidates (operators/dedup.
    supershingle_pairs — Broder, Glassman, Manasse & Zweig WWW 1997):
    6 super-shingles hashed from consecutive pairs of the 12-hash q13
    minhash sketch, docs bucketed by exact (group, super-shingle)
    equality (hot buckets > 50 dropped BEFORE the self-join, the q219/
    q246 discipline), pairs kept under the paper's 2-of-6 rule.  The
    cluster-first cheap sibling of q14's LSH banding — identity on a
    minhash group is already high-precision, so no signature
    re-verification pass.  (id_a, id_b, shared)."""
    from eget_spark.operators.dedup import supershingle_pairs

    docs = _t(spark, sf_dir, "documents")
    return supershingle_pairs(
        docs, "doc_id", "text", num_hashes=12, group_size=2, k=3,
        min_shared=2, bucket_cap=50,
    )


def _q257_sql(num_hashes: int = 12, group_size: int = 2,
              min_shared: int = 2, bucket_cap: int = 50) -> str:
    mh_cols = ", ".join(
        f"min(CAST(('0x' || substr(md5('{j}:' || g), 1, 15)) AS BIGINT))"
        f" AS mh{j}"
        for j in range(num_hashes)
    )
    members = []
    for g in range(num_hashes // group_size):
        cat = " || ':' || ".join(
            f"CAST(mh{g * group_size + r} AS VARCHAR)"
            for r in range(group_size)
        )
        members.append(
            f"SELECT id, {g} AS g, CAST(('0x' || substr(md5("
            f"'ss:{g}:' || {cat}), 1, 15)) AS BIGINT) AS ss FROM sig"
        )
    member_sql = "\n  UNION ALL\n  ".join(members)
    return f"""
WITH sig AS (
  SELECT id, {mh_cols} FROM (
    SELECT doc_id AS id, unnest({_SHINGLE_SQL}) AS g FROM documents
  ) GROUP BY id
),
member AS (
  {member_sql}
),
sizes AS (SELECT g, ss, count(*) AS bn FROM member GROUP BY g, ss),
kept AS (
  SELECT m.id, m.g, m.ss FROM member m
  JOIN sizes s ON s.g = m.g AND s.ss = m.ss
  WHERE s.bn BETWEEN 2 AND {bucket_cap}
)
SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS shared
FROM kept a JOIN kept b ON a.g = b.g AND a.ss = b.ss AND a.id < b.id
GROUP BY a.id, b.id
HAVING count(*) >= {min_shared}
ORDER BY id_a, id_b
"""


_Q257_SQL = _q257_sql()


def q258_wand_bounds(spark, sf_dir):
    """WAND / MaxScore pruning-potential audit (operators/search.
    wand_prune_stats — Broder et al. CIKM 2003, Turtle & Flood 1995):
    per-term BM25 upper bounds, the exact top-10 threshold theta (q74
    score contract), and the fraction of candidate docs provably
    skippable because their present-term bound sum cannot reach theta.
    The index-time answer to 'would dynamic pruning pay off for this
    query on this corpus'.  Three 1-row broadcast aggregates + one
    map-side summary pass — no windows over raw data, no joins.
    (term, df, ub, theta, n_cands, n_skippable, skip_ppm)."""
    from eget_spark.operators.search import wand_prune_stats

    return wand_prune_stats(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["spark", "window", "merge"],
        k=10,
    )


_Q258_BM25_C = (
    "(CASE WHEN tf{i} > 0 THEN"
    " ((ln(1.0 + ((n - df{i}) + 0.5) / (df{i} + 0.5)) * tf{i}) * 2.2)"
    " / (tf{i} + 1.2 * (0.25 + (0.75 * dl) / (sumdl / n)))"
    " ELSE 0.0 END)"
)

_Q258_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
base AS (
  SELECT doc_id, CAST(length(l) AS BIGINT) AS dl,
         CAST(length(list_filter(l, x -> x = 'spark'))  AS BIGINT) AS tf0,
         CAST(length(list_filter(l, x -> x = 'window')) AS BIGINT) AS tf1,
         CAST(length(list_filter(l, x -> x = 'merge'))  AS BIGINT) AS tf2
  FROM d
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl,
         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM base
),
scored AS (
  SELECT doc_id, tf0, tf1, tf2,
         {_Q258_BM25_C.format(i=0)} AS c0,
         {_Q258_BM25_C.format(i=1)} AS c1,
         {_Q258_BM25_C.format(i=2)} AS c2,
         round({_Q258_BM25_C.format(i=0)}
               + {_Q258_BM25_C.format(i=1)}
               + {_Q258_BM25_C.format(i=2)}, 6) AS score
  FROM base CROSS JOIN st
),
ub AS (
  SELECT round(max(c0), 6) AS ub0, round(max(c1), 6) AS ub1,
         round(max(c2), 6) AS ub2
  FROM scored
),
th AS (
  SELECT min(score) AS theta FROM (
    SELECT score FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id LIMIT 10
  )
),
summary AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cands,
         CAST(sum(CASE WHEN
             (CASE WHEN tf0 > 0 THEN ub0 ELSE 0.0 END
              + CASE WHEN tf1 > 0 THEN ub1 ELSE 0.0 END
              + CASE WHEN tf2 > 0 THEN ub2 ELSE 0.0 END) < theta
           THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable
  FROM scored CROSS JOIN ub CROSS JOIN th
  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
),
terms AS (
  SELECT 'spark' AS term, df0 AS df, ub0 AS ub FROM st CROSS JOIN ub
  UNION ALL
  SELECT 'window' AS term, df1 AS df, ub1 AS ub FROM st CROSS JOIN ub
  UNION ALL
  SELECT 'merge' AS term, df2 AS df, ub2 AS ub FROM st CROSS JOIN ub
)
SELECT term, df, ub, theta, n_cands, n_skippable,
       CAST(n_skippable * 1000000 // n_cands AS BIGINT) AS skip_ppm
FROM terms CROSS JOIN th CROSS JOIN summary
ORDER BY term
"""


def q259_image_dims_tiff_ico(spark, sf_dir):
    """Header-only dimension census for TIFF and ICO (functions/media.
    image_header_dims, the q221/q225 census extended): TIFF 6.0 first-
    IFD ImageWidth/ImageLength tags under BOTH byte orders (II little /
    MM big) with SHORT and LONG inline values (left-justified in the
    4-byte field per spec), and ICO ICONDIR first-entry width/height
    bytes (0 encodes 256).  Same header-only / quarantine-by-drop
    contract — no stdlib pixel codec exists for either family, so
    headers are the ONLY stdlib-reachable dims.  Fixture bytes are REAL
    minimal per-spec streams; dims are closed-form in the index so the
    oracle reproduces the census independently."""
    import struct as _struct

    from eget_spark.functions.media import image_dimensions

    def tiff(w, h, bo, typ):
        magic = b"II*\x00" if bo == "<" else b"MM\x00*"

        def entry(tag, t, val):
            if t == 3:
                vf = _struct.pack(bo + "H", val) + b"\x00\x00"
            else:
                vf = _struct.pack(bo + "I", val)
            return _struct.pack(bo + "HHI", tag, t, 1) + vf

        ents = [entry(259, 3, 1), entry(256, typ, w), entry(257, typ, h)]
        ifd = (
            _struct.pack(bo + "H", len(ents))
            + b"".join(ents)
            + b"\x00" * 4
        )
        return magic + _struct.pack(bo + "I", 8) + ifd

    def ico(w, h):
        ent = bytes([w % 256, h % 256, 0, 0]) + _struct.pack(
            "<HHII", 1, 32, 64, 22
        )
        return _struct.pack("<HHH", 0, 1, 1) + ent

    rows = []
    for g in range(28):
        w, h = 5 + g % 7, 3 + g % 5
        kind = g % 4
        if kind == 0:
            payload = tiff(w, h, "<", 3)
        elif kind == 1:
            payload = tiff(w, h, ">", 3)
        elif kind == 2:
            payload = tiff(w, h, "<", 4)
        else:
            payload = ico(w, h)
        rows.append((f"t{g}", bytearray(payload)))
    media = spark.createDataFrame(
        rows, "media_ref string, payload binary"
    ).repartition(4)
    return image_dimensions(media)


_Q259_SQL = r"""
WITH i AS (SELECT CAST(range AS BIGINT) AS g FROM range(28))
SELECT 't' || CAST(g AS VARCHAR) AS media_ref,
       CASE WHEN g % 4 <= 2 THEN 'tiff' ELSE 'ico' END AS format,
       CAST(5 + g % 7 AS INT) AS width,
       CAST(3 + g % 5 AS INT) AS height
FROM i
"""


def q260_readability_family(spark, sf_dir):
    """Gunning Fog + SMOG + Coleman-Liau readability (functions/text.
    readability_indices — Gunning 1952, McLaughlin 1969, Coleman & Liau
    1975): the polysyllable- and character-based audience-level axes
    complementing q124's Flesch, under the identical pinned sentence/
    token/vowel-group contracts; ZERO-shuffle scan-side projection —
    both per-word sums are aggregate HOF folds, no explode, no Exchange
    anywhere.  (id, n_sentences, n_words, n_complex, n_letters, fog,
    smog, cli)."""
    from eget_spark.functions.text import readability_indices

    return readability_indices(_t(spark, sf_dir, "documents"), "doc_id",
                               "text")


_Q260_SQL = r"""
WITH base AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ws,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
              AS BIGINT) AS n_sent
  FROM documents
),
cnt AS (
  SELECT id, n_sent,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(len(list_filter(ws,
              w -> len(regexp_extract_all(w, '[aeiouy]+')) >= 3))
              AS BIGINT) AS n_complex,
         CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
              AS BIGINT) AS n_letters
  FROM base
)
SELECT id, n_sent AS n_sentences, n_words, n_complex, n_letters,
       CASE WHEN n_words > 0 THEN
         round(0.4 * (n_words / n_sent + (n_complex * 100) / n_words), 6)
       END AS fog,
       CASE WHEN n_words > 0 THEN
         round(1.043 * sqrt((n_complex * 30) / n_sent) + 3.1291, 6)
       END AS smog,
       CASE WHEN n_words > 0 THEN
         round(0.0588 * ((n_letters * 100) / n_words)
               - 0.296 * ((n_sent * 100) / n_words) - 15.8, 6)
       END AS cli
FROM cnt
ORDER BY id
"""


_Q261_ROT = (
    f"CASE WHEN {_Q253_LABEL_A} = 'short' THEN 'mid'"
    f" WHEN {_Q253_LABEL_A} = 'mid' THEN 'long' ELSE 'short' END"
)
_Q261_L1 = (
    f"CASE WHEN (doc_id * 2654435761) % 5 <> 0 THEN {_Q253_LABEL_A}"
    f" ELSE {_Q261_ROT} END"
)
_Q261_L2 = (
    f"CASE WHEN (doc_id * 1103515245) % 4 <> 0 THEN {_Q253_LABEL_A}"
    f" ELSE {_Q261_ROT} END"
)


def q261_fleiss_panel(spark, sf_dir):
    """Fleiss' kappa (operators/agreement.fleiss_kappa — Fleiss 1971):
    a 3-rater panel labels every document's length tier (rater 0 the
    q253 rubric, raters 1 and 2 rotating every 5th / 4th label under
    pinned hashes) — the fixed-panel generalization of q253's two-rater
    Cohen; items with a wrong vote count are dropped AND counted, never
    silently.  (n_items, n_dropped, po, pe, kappa)."""
    from eget_spark.operators.agreement import fleiss_kappa

    docs = _t(spark, sf_dir, "documents")
    votes = docs.select(
        F.col("doc_id").alias("item"),
        F.explode(
            F.array(
                F.expr(_Q253_LABEL_A),
                F.expr(_Q261_L1),
                F.expr(_Q261_L2),
            )
        ).alias("label"),
    )
    return fleiss_kappa(votes, "item", "label", m=3)


_Q261_SQL = rf"""
WITH votes AS (
  SELECT doc_id AS i, {_Q253_LABEL_A} AS c FROM documents
  UNION ALL
  SELECT doc_id AS i, {_Q261_L1} AS c FROM documents
  UNION ALL
  SELECT doc_id AS i, {_Q261_L2} AS c FROM documents
),
cell AS (SELECT i, c, CAST(count(*) AS BIGINT) AS n FROM votes GROUP BY i, c),
per_item AS (
  SELECT i, CAST(sum(n) AS BIGINT) AS mi, CAST(sum(n * n) AS BIGINT) AS sq
  FROM cell GROUP BY i
),
valid AS (SELECT * FROM per_item WHERE mi = 3),
dropped AS (
  SELECT CAST(sum(CASE WHEN mi <> 3 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped FROM per_item
),
obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(sq - 3) AS BIGINT) AS agree_num
  FROM valid
),
margins AS (
  SELECT c, CAST(sum(n) AS BIGINT) AS nc
  FROM cell JOIN valid USING (i) GROUP BY c
),
chance AS (
  SELECT CAST(coalesce(sum(nc * nc), 0) AS BIGINT) AS pe_num FROM margins
),
ratios AS (
  SELECT n_items, n_dropped,
         round(agree_num / CAST(n_items * 3 * 2 AS DOUBLE), 6) AS po,
         round(pe_num / (CAST(n_items * 3 AS DOUBLE)
                         * CAST(n_items * 3 AS DOUBLE)), 6) AS pe
  FROM obs CROSS JOIN chance CROSS JOIN dropped
)
SELECT n_items, n_dropped, po, pe,
       CASE WHEN pe < 1.0 THEN round((po - pe) / (1.0 - pe), 6) END AS kappa
FROM ratios
"""


def q262_krippendorff(spark, sf_dir):
    """Krippendorff's alpha, nominal (operators/agreement.
    krippendorff_alpha — Krippendorff 1980/2004): the missing-tolerant
    agreement coefficient over an UNBALANCED vote ledger — every doc
    gets rater 0, all but every 13th get rater 1, every 3rd (and not
    13th) gets rater 2, so items carry 1..3 votes and the
    single-vote-exclusion branch is genuinely exercised; per-item
    disagreement micro-quantized BEFORE the sum (q226 discipline).
    (n_items, n_votes, do_micro, de_num, alpha)."""
    from eget_spark.operators.agreement import krippendorff_alpha

    docs = _t(spark, sf_dir, "documents")
    v0 = docs.select(
        F.col("doc_id").alias("item"), F.expr(_Q253_LABEL_A).alias("label")
    )
    v1 = docs.where(F.expr("doc_id % 13 <> 0")).select(
        F.col("doc_id").alias("item"), F.expr(_Q261_L1).alias("label")
    )
    v2 = docs.where(F.expr("doc_id % 3 = 0 AND doc_id % 13 <> 0")).select(
        F.col("doc_id").alias("item"), F.expr(_Q261_L2).alias("label")
    )
    return krippendorff_alpha(v0.unionAll(v1).unionAll(v2), "item", "label")


_Q262_SQL = rf"""
WITH votes AS (
  SELECT doc_id AS i, {_Q253_LABEL_A} AS c FROM documents
  UNION ALL
  SELECT doc_id AS i, {_Q261_L1} AS c FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id AS i, {_Q261_L2} AS c FROM documents
  WHERE doc_id % 3 = 0 AND doc_id % 13 <> 0
),
cell AS (SELECT i, c, CAST(count(*) AS BIGINT) AS n FROM votes GROUP BY i, c),
per_item AS (
  SELECT i, CAST(sum(n) AS BIGINT) AS mi, CAST(sum(n * n) AS BIGINT) AS sq
  FROM cell GROUP BY i
),
valid AS (SELECT * FROM per_item WHERE mi >= 2),
obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(mi) AS BIGINT) AS n_votes,
         CAST(coalesce(sum((mi * mi - sq) * 1000000 // (mi - 1)), 0)
              AS BIGINT) AS do_micro
  FROM valid
),
margins AS (
  SELECT c, CAST(sum(n) AS BIGINT) AS nc
  FROM cell JOIN valid USING (i) GROUP BY c
),
chance AS (
  SELECT CAST(coalesce(sum(nc * nc), 0) AS BIGINT) AS sq_marg FROM margins
),
base AS (
  SELECT n_items, n_votes, do_micro,
         CAST(n_votes * n_votes - sq_marg AS BIGINT) AS de_num
  FROM obs CROSS JOIN chance
)
SELECT n_items, n_votes, do_micro, de_num,
       CASE WHEN de_num > 0 THEN
         round(1.0 - (CAST(n_votes - 1 AS DOUBLE)
                      * CAST(do_micro AS DOUBLE))
                     / (CAST(de_num AS DOUBLE) * 1e6), 6)
       END AS alpha
FROM base
"""


def q263_source_jsd(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions (operators/divergence.pairwise_jsd — Lin 1991): the
    symmetric ln(2)-bounded source-similarity matrix behind mixture
    dedup and domain balancing, complementing q249's KL-vs-corpus;
    shared-token terms micro-quantized BEFORE the sum, one-sided
    vocabulary mass folded in closed form ((n-shared)*ln2 DIV 2n — no
    full-outer join over the union vocabulary), zero-shared pairs
    emitted at the ln(2) ceiling via the |groups|^2/2 broadcast spine.
    (grp_a, grp_b, n_shared_types, jsd_micro)."""
    from eget_spark.operators.divergence import pairwise_jsd

    return pairwise_jsd(_t(spark, sf_dir, "documents"), "source", "text")


_Q263_SQL = r"""
WITH toks AS (
  SELECT source AS grp,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), t -> t <> '')) AS tok
  FROM documents
),
gt AS (
  SELECT grp, tok, CAST(count(*) AS BIGINT) AS n_gt
  FROM toks GROUP BY grp, tok
),
g_tot AS (
  SELECT grp, CAST(sum(n_gt) AS BIGINT) AS n_g FROM gt GROUP BY grp
),
pairterms AS (
  SELECT a.grp AS ga, b.grp AS gb, a.n_gt AS ca, b.n_gt AS cb,
         CAST(a.n_gt AS DOUBLE) / CAST(ta.n_g AS DOUBLE) AS p,
         CAST(b.n_gt AS DOUBLE) / CAST(tb.n_g AS DOUBLE) AS q
  FROM gt a
  JOIN gt b ON a.tok = b.tok AND a.grp < b.grp
  JOIN g_tot ta ON ta.grp = a.grp
  JOIN g_tot tb ON tb.grp = b.grp
),
shared AS (
  SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_shared_types,
         CAST(sum(ca) AS BIGINT) AS sa, CAST(sum(cb) AS BIGINT) AS sb,
         CAST(sum(CAST(round((p * ln(2.0 * p / (p + q))
                              + q * ln(2.0 * q / (p + q)))
                             / 2.0 * 1e6) AS BIGINT)) AS BIGINT)
           AS shared_micro
  FROM pairterms GROUP BY ga, gb
),
spine AS (
  SELECT ta.grp AS ga, ta.n_g AS na, tb.grp AS gb, tb.n_g AS nb
  FROM g_tot ta CROSS JOIN g_tot tb WHERE ta.grp < tb.grp
)
SELECT s.ga AS grp_a, s.gb AS grp_b,
       CAST(coalesce(sh.n_shared_types, 0) AS BIGINT) AS n_shared_types,
       CAST(coalesce(sh.shared_micro, 0)
            + (s.na - coalesce(sh.sa, 0)) * 693147 // (2 * s.na)
            + (s.nb - coalesce(sh.sb, 0)) * 693147 // (2 * s.nb)
            AS BIGINT) AS jsd_micro
FROM spine s LEFT JOIN shared sh ON sh.ga = s.ga AND sh.gb = s.gb
ORDER BY grp_a, grp_b
"""


def q264_lexical_richness(spark, sf_dir):
    """Per-source lexical-richness census (operators/corpus_stats.
    lexical_richness — Yule 1944 K, Herdan 1960 C, Guiraud 1954 R +
    TTR/hapax shares): the length-insensitive repetitiveness axes that
    expose template farms long before raw TTR does — the vocabulary
    twin of q57 repetition quality and q244 diversity indices; every
    double formed by ONE division of exactly-derived int64 census
    counts, exact ppm ratios.  (source, n_toks, n_types, hapax, dis,
    yule_k, herdan_c, guiraud_r, ttr_ppm, hapax_ppm)."""
    from eget_spark.operators.corpus_stats import lexical_richness

    return lexical_richness(_t(spark, sf_dir, "documents"), "source",
                            "text")


_Q264_SQL = r"""
WITH toks AS (
  SELECT source AS grp,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), t -> t <> '')) AS tok
  FROM documents
),
gt AS (
  SELECT grp, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY grp, tok
),
per AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_toks,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
         CAST(sum(cnt * cnt) AS BIGINT) AS m2
  FROM gt GROUP BY grp
)
SELECT grp AS source, n_toks, n_types, hapax, dis,
       round((m2 - n_toks) * 1e4
             / (CAST(n_toks AS DOUBLE) * CAST(n_toks AS DOUBLE)), 6)
         AS yule_k,
       CASE WHEN n_toks > 1 THEN
         round(ln(CAST(n_types AS DOUBLE)) / ln(CAST(n_toks AS DOUBLE)), 6)
       END AS herdan_c,
       round(n_types / sqrt(CAST(n_toks AS DOUBLE)), 6) AS guiraud_r,
       CAST(n_types * 1000000 // n_toks AS BIGINT) AS ttr_ppm,
       CAST(hapax * 1000000 // n_types AS BIGINT) AS hapax_ppm
FROM per
ORDER BY source
"""


def q265_classifier_auc(spark, sf_dir):
    """ROC-AUC + Average Precision (operators/evalmetrics.roc_auc_ap —
    Mann-Whitney 1947 rank-sum identity / Hanley-McNeil 1982, PASCAL
    AP): the threshold-free quality audit of the SAME synthetic
    classifier q252 calibrates — scores and labels from the identical
    pinned hash rules, so the two queries together give the full
    eval story (discrimination here, calibration there); midranks keep
    tied scores exact, AP's (score DESC, id) tie-break is part of the
    pin.  (n, n_pos, n_neg, r2_pos, auc, ap_ppm)."""
    from eget_spark.operators.evalmetrics import roc_auc_ap

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("doc_id").alias("id"),
        F.expr("(doc_id * 2654435761) % 1000001").alias("score"),
        F.expr(
            "CAST(CASE WHEN (doc_id * 1103515245 + 12345) % 1000000"
            "  < (doc_id * 2654435761) % 1000001 THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("label"),
    )
    return roc_auc_ap(scored, "score", "label", "id")


_Q265_SQL = r"""
WITH scored AS (
  SELECT doc_id AS id,
         (doc_id * 2654435761) % 1000001 AS s,
         CASE WHEN (doc_id * 1103515245 + 12345) % 1000000
                   < (doc_id * 2654435761) % 1000001
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
  FROM documents
),
ranked AS (
  SELECT *, rank() OVER (ORDER BY s) AS rmin,
         count(*) OVER (PARTITION BY s) AS ties
  FROM scored
),
agg_auc AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN y = 1 THEN 2 * rmin + ties - 1 END)
              AS BIGINT) AS r2_pos
  FROM ranked
),
ap_ranked AS (
  SELECT y, row_number() OVER (ORDER BY s DESC, id) AS i,
         sum(y) OVER (ORDER BY s DESC, id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
  FROM scored
),
agg_ap AS (
  SELECT CAST(coalesce(sum(tp * 1000000 // i), 0) AS BIGINT) AS ap_num
  FROM ap_ranked WHERE y = 1
),
base AS (
  SELECT n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg, r2_pos, ap_num
  FROM agg_auc CROSS JOIN agg_ap
)
SELECT n, n_pos, n_neg, r2_pos,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         round((CAST(r2_pos AS DOUBLE) - CAST(n_pos * (n_pos + 1) AS DOUBLE))
               / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
       END AS auc,
       CAST(CASE WHEN n_pos > 0 THEN ap_num // n_pos END AS BIGINT) AS ap_ppm
FROM base
"""


def q266_ndcg(spark, sf_dir):
    """nDCG@10 per query (operators/evalmetrics.ndcg_at_k — Järvelin &
    Kekäläinen TOIS 2002): graded-relevance ranking quality over 8
    synthetic query slates (rank = doc position within its query slice,
    relevance a pinned 0..3 hash grade); per-rank discounts quantized
    to micro units FIRST so DCG/IDCG are exact integer sums, the
    local-ideal re-sort pinned to (rel DESC, rank).
    (query, dcg_micro, idcg_micro, ndcg_ppm)."""
    from eget_spark.operators.evalmetrics import ndcg_at_k

    docs = _t(spark, sf_dir, "documents")
    ranked = docs.select(
        F.expr("concat('q', CAST(doc_id % 8 AS STRING))").alias("query"),
        F.expr("doc_id DIV 8 + 1").alias("rnk"),
        F.expr("(doc_id * 2654435761) % 4").alias("rel"),
    )
    return ndcg_at_k(ranked, "query", "rnk", "rel", k=10)


_Q266_SQL = r"""
WITH top AS (
  SELECT 'q' || CAST(doc_id % 8 AS VARCHAR) AS q,
         doc_id // 8 + 1 AS i,
         (doc_id * 2654435761) % 4 AS rel
  FROM documents
  WHERE doc_id // 8 + 1 <= 10
),
dcg AS (
  SELECT q, CAST(sum(rel * CAST(round(1000000.0 / log2(i + 1)) AS BIGINT))
                 AS BIGINT) AS dcg_micro
  FROM top GROUP BY q
),
ideal AS (
  SELECT q, CAST(sum(rel * CAST(round(1000000.0 / log2(j + 1)) AS BIGINT))
                 AS BIGINT) AS idcg_micro
  FROM (
    SELECT q, rel,
           row_number() OVER (PARTITION BY q ORDER BY rel DESC, i) AS j
    FROM top
  ) GROUP BY q
)
SELECT d.q AS query, d.dcg_micro, i.idcg_micro,
       CAST(CASE WHEN i.idcg_micro > 0
            THEN d.dcg_micro * 1000000 // i.idcg_micro END AS BIGINT)
         AS ndcg_ppm
FROM dcg d JOIN ideal i ON i.q = d.q
ORDER BY query
"""


def q267_ranker_concordance(spark, sf_dir):
    """Kendall's tau-b (operators/evalmetrics.kendall_tau_b — Kendall
    1938, tie-corrected 1945 form): rank concordance between two pinned
    synthetic rankers over the first 200 items (cap pinned, the q256
    quadratic-pair discipline; ranker x deliberately coarse so tie
    pairs exercise the tau-b correction) — the do-two-centralities-
    agree primitive for choosing the cheap proxy.
    (n_items, concordant, discordant, ties_x, ties_y, tau_b)."""
    from eget_spark.operators.evalmetrics import kendall_tau_b

    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        F.col("doc_id").alias("id"),
        F.expr("(doc_id * 37) % 50").alias("x"),
        F.expr("((doc_id * 37) % 50) * 10 + (doc_id * 2654435761) % 25")
        .alias("y"),
    )
    return kendall_tau_b(items, "id", "x", "y", max_items=200)


_Q267_SQL = r"""
WITH capped AS (
  SELECT id, x, y FROM (
    SELECT doc_id AS id,
           (doc_id * 37) % 50 AS x,
           ((doc_id * 37) % 50) * 10 + (doc_id * 2654435761) % 25 AS y,
           row_number() OVER (ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn <= 200
),
pairs AS (
  SELECT CAST(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END
              * CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END
              AS BIGINT) AS prod,
         CAST(CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS BIGINT) AS tx,
         CAST(CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS BIGINT) AS ty
  FROM capped a JOIN capped b ON a.id < b.id
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN prod = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN prod = -1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(tx) AS BIGINT) AS ties_x,
         CAST(sum(ty) AS BIGINT) AS ties_y
  FROM pairs
),
ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM capped)
SELECT n_items, c AS concordant, d AS discordant, ties_x, ties_y,
       CASE WHEN (n0 - ties_x) > 0 AND (n0 - ties_y) > 0 THEN
         round(CAST(c - d AS DOUBLE)
               / sqrt(CAST(n0 - ties_x AS DOUBLE)
                      * CAST(n0 - ties_y AS DOUBLE)), 6)
       END AS tau_b
FROM st CROSS JOIN ni
"""


def q268_spearman(spark, sf_dir):
    """Spearman rank correlation with exact midrank ties (operators/
    evalmetrics.spearman_rho — Pearson-on-midranks form): the same two
    pinned rankers q267 compares pairwise, here over the FULL item set
    with no cap (no pair join — two with_global_seq rank passes + one
    moment aggregate), doubled midranks keep everything int64 until
    ONE round-6 double division.  (n, rho)."""
    from eget_spark.operators.evalmetrics import spearman_rho

    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        F.col("doc_id").alias("id"),
        F.expr("(doc_id * 37) % 50").alias("x"),
        F.expr("((doc_id * 37) % 50) * 10 + (doc_id * 2654435761) % 25")
        .alias("y"),
    )
    return spearman_rho(items, "id", "x", "y")


_Q268_SQL = r"""
WITH base AS (
  SELECT doc_id AS id,
         (doc_id * 37) % 50 AS x,
         ((doc_id * 37) % 50) * 10 + (doc_id * 2654435761) % 25 AS y
  FROM documents
),
mr_x AS (
  SELECT x, CAST(2 * min(r) + count(*) - 1 AS BIGINT) AS mx2
  FROM (SELECT x, row_number() OVER (ORDER BY x, id) AS r FROM base)
  GROUP BY x
),
mr_y AS (
  SELECT y, CAST(2 * min(r) + count(*) - 1 AS BIGINT) AS my2
  FROM (SELECT y, row_number() OVER (ORDER BY y, id) AS r FROM base)
  GROUP BY y
),
ranked AS (
  SELECT mx2, my2 FROM base JOIN mr_x USING (x) JOIN mr_y USING (y)
),
mo AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mx2) AS BIGINT) AS sx, CAST(sum(my2) AS BIGINT) AS sy,
         CAST(sum(mx2 * mx2) AS BIGINT) AS sxx,
         CAST(sum(my2 * my2) AS BIGINT) AS syy,
         CAST(sum(mx2 * my2) AS BIGINT) AS sxy
  FROM ranked
)
SELECT n,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS rho
FROM mo
"""


def q269_mcnemar(spark, sf_dir):
    """McNemar's paired-classifier test (operators/evalmetrics.
    mcnemar_test — McNemar 1947, Edwards continuity correction): two
    pinned synthetic classifiers' per-document 0/1 correctness (one
    ~70%, one ~80% accurate by hash rule) compared on the SAME items —
    only the discordant cells matter, the ship/don't-ship statistic
    for replacing the incumbent quality gate.  ONE map-side aggregate.
    (n_items, both_right, both_wrong, only_a, only_b, chi2)."""
    from eget_spark.operators.evalmetrics import mcnemar_test

    docs = _t(spark, sf_dir, "documents")
    paired = docs.select(
        F.expr(
            "CAST(CASE WHEN (doc_id * 2654435761) % 10 < 7"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("a_correct"),
        F.expr(
            "CAST(CASE WHEN (doc_id * 1103515245) % 10 < 8"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("b_correct"),
    )
    return mcnemar_test(paired, "a_correct", "b_correct")


_Q269_SQL = r"""
WITH paired AS (
  SELECT CASE WHEN (doc_id * 2654435761) % 10 < 7 THEN 1 ELSE 0 END AS a,
         CASE WHEN (doc_id * 1103515245) % 10 < 8 THEN 1 ELSE 0 END AS b
  FROM documents
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS both_right,
         CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS both_wrong,
         CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS only_a,
         CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS only_b
  FROM paired
)
SELECT n_items, both_right, both_wrong, only_a, only_b,
       CASE WHEN only_a + only_b > 0 THEN
         round(CAST((abs(only_a - only_b) - 1) * (abs(only_a - only_b) - 1)
                    AS DOUBLE) / CAST(only_a + only_b AS DOUBLE), 6)
       END AS chi2
FROM agg
"""


def q270_pareto_frontier(spark, sf_dir):
    """2-D skyline / Pareto frontier (operators/skyline.skyline_2d —
    Börzsönyi et al. ICDE 2001): the non-dominated set of 500 pinned
    (x, y) metric points (maximize both axes; exact double-ties all
    survive, same-x inferiors die) — the option-set primitive behind
    every two-axis crawl/curation trade; exclusive prefix max via the
    with_global_seq mechanism (range exchange + per-partition window +
    driver-bounded per-partition seeds), never a SinglePartition
    window.  (id, x, y)."""
    from eget_spark.operators.skyline import skyline_2d

    docs = _t(spark, sf_dir, "documents")
    points = docs.select(
        F.col("doc_id").alias("id"),
        F.expr("(doc_id * 2654435761) % 1000").alias("x"),
        F.expr("(doc_id * 1103515245) % 1000").alias("y"),
    )
    return skyline_2d(points, "id", "x", "y")


_Q270_SQL = r"""
WITH pts AS (
  SELECT doc_id AS id,
         (doc_id * 2654435761) % 1000 AS x,
         (doc_id * 1103515245) % 1000 AS y
  FROM documents
),
xg AS (SELECT x, CAST(max(y) AS BIGINT) AS gy FROM pts GROUP BY x),
ord AS (
  SELECT x, gy,
         max(gy) OVER (ORDER BY x DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxy_gt
  FROM xg
)
SELECT p.id, CAST(p.x AS BIGINT) AS x, CAST(p.y AS BIGINT) AS y
FROM pts p JOIN ord o ON o.x = p.x
WHERE (o.maxy_gt IS NULL OR o.maxy_gt < p.y) AND p.y = o.gy
ORDER BY x DESC, y DESC, id
"""


def q271_traffic_burstiness(spark, sf_dir):
    """Traffic-burstiness census (operators/anomaly.burstiness_census —
    Fano 1947 dispersion / Goh-Barabási 2008 B): per-host hourly event-
    count moments over the events ledger (host = user_id%25, bucket =
    epoch-hour) — Fano ~1 is Poisson-calm, B -> 1 is on/off burst
    traffic that fixed crawl delays model badly; the dispersion twin of
    q254's mean-shift CUSUM, feeding q101 adaptive delays.  Exact int64
    moments, three round-6 single divisions.
    (key, n_buckets, total, fano, cv2, burstiness)."""
    from eget_spark.operators.anomaly import burstiness_census

    ev = _t(spark, sf_dir, "events").select(
        F.expr("concat('h', CAST(user_id % 25 AS STRING))").alias("host"),
        F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias(
            "bucket"
        ),
    )
    return burstiness_census(ev, "host", "bucket")


_Q271_SQL = r"""
WITH ev AS (
  SELECT 'h' || CAST(user_id % 25 AS VARCHAR) AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS b
  FROM events
),
counts AS (
  SELECT key, b, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY key, b
),
mo AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS s2
  FROM counts GROUP BY key
)
SELECT key, n_buckets, s AS total,
       CASE WHEN s > 0 THEN
         round(CAST(n_buckets * s2 - s * s AS DOUBLE)
               / (CAST(n_buckets AS DOUBLE) * CAST(s AS DOUBLE)), 6)
       END AS fano,
       CASE WHEN s > 0 THEN
         round(CAST(n_buckets * s2 - s * s AS DOUBLE)
               / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6)
       END AS cv2,
       CASE WHEN s > 0 THEN
         round((sqrt(CAST(n_buckets * s2 - s * s AS DOUBLE)
                     / (CAST(n_buckets AS DOUBLE)
                        * CAST(n_buckets AS DOUBLE)))
                - CAST(s AS DOUBLE) / CAST(n_buckets AS DOUBLE))
               / (sqrt(CAST(n_buckets * s2 - s * s AS DOUBLE)
                       / (CAST(n_buckets AS DOUBLE)
                          * CAST(n_buckets AS DOUBLE)))
                  + CAST(s AS DOUBLE) / CAST(n_buckets AS DOUBLE)), 6)
       END AS burstiness
FROM mo
ORDER BY key
"""


def q272_source_tier_gtest(spark, sf_dir):
    """G-test of independence (operators/audit.contingency_gtest —
    the log-likelihood contingency audit, q248's Dunning G² lifted to
    a full R x C table): is the q253 length tier independent of
    source?  Per-cell ln ratios micro-quantized FIRST then exact
    integer products 2*obs*lr (zero cells contribute 0, the G-test
    convention), table statistic + dof replicated.
    (r, c, obs, exp_milli, g_micro, g_total_micro, dof)."""
    from eget_spark.operators.audit import contingency_gtest

    docs = _t(spark, sf_dir, "documents")
    rated = docs.select(
        F.col("source"), F.expr(_Q253_LABEL_A).alias("tier")
    )
    return contingency_gtest(rated, "source", "tier")


_Q272_SQL = rf"""
WITH rated AS (
  SELECT source AS r, {_Q253_LABEL_A} AS c FROM documents
),
cells AS (
  SELECT r, c, CAST(count(*) AS BIGINT) AS obs FROM rated GROUP BY r, c
),
rm AS (SELECT r, CAST(sum(obs) AS BIGINT) AS n_r FROM cells GROUP BY r),
cm AS (SELECT c, CAST(sum(obs) AS BIGINT) AS n_c FROM cells GROUP BY c),
tot AS (
  SELECT CAST(sum(obs) AS BIGINT) AS n,
         CAST(count(DISTINCT r) AS BIGINT) AS nr,
         CAST(count(DISTINCT c) AS BIGINT) AS nc
  FROM cells
),
terms AS (
  SELECT cells.r, cells.c, obs,
         CAST(n_r * n_c * 1000 // n AS BIGINT) AS exp_milli,
         CAST(2 * obs * CAST(round(ln((CAST(obs AS DOUBLE)
                                       * CAST(n AS DOUBLE))
                                      / (CAST(n_r AS DOUBLE)
                                         * CAST(n_c AS DOUBLE))) * 1e6)
                             AS BIGINT) AS BIGINT) AS g_micro,
         CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof
  FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN tot
),
total AS (SELECT CAST(sum(g_micro) AS BIGINT) AS g_total_micro FROM terms)
SELECT r, c, obs, exp_milli, g_micro, g_total_micro, dof
FROM terms CROSS JOIN total
ORDER BY r, c
"""


def q273_k_anonymity(spark, sf_dir):
    """k-anonymity census (operators/audit.k_anonymity_audit — Sweeney
    2002): equivalence classes over the quasi-identifier tuple (lang,
    source, 100-char size bucket), k=5 — the release-time privacy
    audit AFTER q59's direct-identifier scrub; classes of exactly k
    are safe (pinned boundary).  ONE groupBy + one aggregate of the
    class table.  (n_rows, n_classes, k_anonymity, n_classes_below_k,
    rows_below_k, suppress_ppm)."""
    from eget_spark.operators.audit import k_anonymity_audit

    docs = _t(spark, sf_dir, "documents").withColumn(
        "size_bucket", F.expr("n_chars DIV 100")
    )
    return k_anonymity_audit(docs, ["lang", "source", "size_bucket"], k=5)


_Q273_SQL = r"""
WITH classes AS (
  SELECT lang, source, n_chars // 100 AS size_bucket,
         CAST(count(*) AS BIGINT) AS sz
  FROM documents GROUP BY 1, 2, 3
)
SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(sz) AS BIGINT) AS k_anonymity,
       CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_below_k,
       CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000
            // sum(sz) AS BIGINT) AS suppress_ppm
FROM classes
"""


def q274_tail_index(spark, sf_dir):
    """Hill power-law tail index (operators/corpus_stats.
    hill_tail_index — Hill 1975): alpha over the 100 largest content
    lengths vs the 101st-order-statistic threshold, per-value ln terms
    micro-quantized before the exact integer sum; the heavy-tail audit
    (alpha near 1: giants dominate total bytes — shard accordingly)
    completing q238's Zipf slope and q255's Benford screen.  ONE
    mergeable TakeOrdered then (k+1)-row broadcast-class arithmetic.
    (k, x_threshold, sum_micro, alpha)."""
    from eget_spark.operators.corpus_stats import hill_tail_index

    return hill_tail_index(_t(spark, sf_dir, "documents"), "n_chars",
                           k=100)


_Q274_SQL = r"""
WITH top AS (
  SELECT CAST(n_chars AS BIGINT) AS x FROM documents
  WHERE n_chars > 0 ORDER BY x DESC LIMIT 101
),
thr AS (SELECT CAST(min(x) AS BIGINT) AS x_thr FROM top),
ranked AS (
  SELECT x, x_thr, row_number() OVER (ORDER BY x) AS rn
  FROM top CROSS JOIN thr
),
terms AS (
  SELECT x_thr,
         CAST(round(ln(CAST(x AS DOUBLE) / CAST(x_thr AS DOUBLE)) * 1e6)
              AS BIGINT) AS t
  FROM ranked WHERE rn > 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k, x_thr AS x_threshold,
         CAST(sum(t) AS BIGINT) AS sum_micro
  FROM terms GROUP BY x_thr
)
SELECT k, x_threshold, sum_micro,
       CASE WHEN sum_micro > 0 THEN
         round(CAST(k AS DOUBLE) * 1e6 / CAST(sum_micro AS DOUBLE), 6)
       END AS alpha
FROM agg
"""


_Q275_LABEL = (
    "CASE WHEN (doc_id * 2654435761) % 100"
    " < (CASE WHEN lang = 'en' THEN 70 ELSE 20 END)"
    " THEN 'keep' ELSE 'drop' END"
)


def q275_feature_info_gain(spark, sf_dir):
    """Information-gain feature ranking (operators/features.info_gain —
    Quinlan 1986 split criterion / mutual information): which cheap
    metadata feature (lang / source / 100-char size bucket) predicts a
    pinned keep-drop label whose odds genuinely depend on lang — so
    lang must rank first; every statistic its OWN micro-quantized sum
    (q249 discipline), cells map-side combined.
    (feature, n_values, h_label_micro, h_cond_micro, ig_micro)."""
    from eget_spark.operators.features import info_gain

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.expr("CAST(n_chars DIV 100 AS STRING)").alias("size_bucket"),
        F.expr(_Q275_LABEL).alias("label"),
    )
    return info_gain(docs, ["lang", "source", "size_bucket"], "label")


_Q275_SQL = rf"""
WITH base AS (
  SELECT lang, source, CAST(n_chars // 100 AS VARCHAR) AS size_bucket,
         {_Q275_LABEL} AS lbl
  FROM documents
),
melted AS (
  SELECT 'lang' AS feat, lang AS val, lbl FROM base
  UNION ALL
  SELECT 'source' AS feat, source AS val, lbl FROM base
  UNION ALL
  SELECT 'size_bucket' AS feat, size_bucket AS val, lbl FROM base
),
cells AS (
  SELECT feat, val, lbl, CAST(count(*) AS BIGINT) AS n_vl
  FROM melted GROUP BY feat, val, lbl
),
vm AS (
  SELECT feat, val, CAST(sum(n_vl) AS BIGINT) AS n_v
  FROM cells GROUP BY feat, val
),
lm AS (
  SELECT feat, lbl, CAST(sum(n_vl) AS BIGINT) AS n_l
  FROM cells GROUP BY feat, lbl
),
tot AS (SELECT feat, CAST(sum(n_l) AS BIGINT) AS n FROM lm GROUP BY feat),
h_label AS (
  SELECT lm.feat,
         CAST(sum(CAST(round(-1e6 * (CAST(n_l AS DOUBLE)
                                     / CAST(n AS DOUBLE))
                             * ln(CAST(n_l AS DOUBLE)
                                  / CAST(n AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS h_label_micro
  FROM lm JOIN tot USING (feat) GROUP BY lm.feat
),
per_feat AS (
  SELECT cells.feat,
         CAST(sum(CAST(round(1e6 * (CAST(n_vl AS DOUBLE)
                                    / CAST(n AS DOUBLE))
                             * ln(CAST(n_v AS DOUBLE)
                                  / CAST(n_vl AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS h_cond_micro,
         CAST(sum(CAST(round(1e6 * (CAST(n_vl AS DOUBLE)
                                    / CAST(n AS DOUBLE))
                             * ln((CAST(n_vl AS DOUBLE)
                                   * CAST(n AS DOUBLE))
                                  / (CAST(n_v AS DOUBLE)
                                     * CAST(n_l AS DOUBLE))))
                       AS BIGINT)) AS BIGINT) AS ig_micro
  FROM cells JOIN vm USING (feat, val) JOIN lm USING (feat, lbl)
  JOIN tot USING (feat)
  GROUP BY cells.feat
),
nv AS (SELECT feat, CAST(count(*) AS BIGINT) AS n_values FROM vm
       GROUP BY feat)
SELECT nv.feat AS feature, n_values, h_label_micro, h_cond_micro, ig_micro
FROM nv JOIN h_label USING (feat) JOIN per_feat USING (feat)
ORDER BY ig_micro DESC, feature
"""


_Q276_GROUP = (
    "CASE WHEN (doc_id % 25) % 5 = 0 THEN 'stepped' ELSE 'clean' END"
)


def q276_latency_ks(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov distance (operators/drift.
    ks_two_sample — Kolmogorov 1933 / Smirnov 1939): the q254 synthetic
    latency population split into its stepped vs clean host cohorts —
    KS sees the +30 ms mode the mean barely moves; integer deviations
    |n_b*c_a - n_a*c_b| exact, ECDF cumulatives via the range-exchange
    + per-partition-window + broadcast-prefix mechanism (never a
    SinglePartition window).  (n_a, n_b, d_num, d, at_value)."""
    from eget_spark.operators.drift import ks_two_sample

    docs = _t(spark, sf_dir, "documents")
    series = docs.select(
        F.expr(_Q276_GROUP).alias("cohort"),
        F.expr(_Q254_VALUE).cast("long").alias("value"),
    )
    return ks_two_sample(series, "cohort", "value", "stepped", "clean")


_Q276_SQL = rf"""
WITH vals AS (
  SELECT {_Q276_GROUP} AS g,
         CAST({_Q254_VALUE.replace("DIV", "//")} AS BIGINT) AS v
  FROM documents
),
per_v AS (
  SELECT v,
         CAST(sum(CASE WHEN g = 'stepped' THEN 1 ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(sum(CASE WHEN g = 'stepped' THEN 0 ELSE 1 END) AS BIGINT)
           AS cb
  FROM vals GROUP BY v
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM per_v
),
stepped AS (
  SELECT v,
         CAST(abs(nb * sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW)
                  - na * sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW)) AS BIGINT) AS dev,
         na, nb
  FROM per_v CROSS JOIN tot
),
top AS (SELECT CAST(max(dev) AS BIGINT) AS d_num FROM stepped)
SELECT na AS n_a, nb AS n_b, d_num,
       round(CAST(d_num AS DOUBLE)
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS d,
       CAST(min(v) AS BIGINT) AS at_value
FROM stepped CROSS JOIN top
WHERE dev = d_num
GROUP BY na, nb, d_num
"""


_Q277_BUCKET = (
    "CASE WHEN doc_id % 2 = 0 THEN (doc_id * 2654435761) % 8"
    " ELSE least((doc_id * 2654435761) % 8 + 2, 7) END"
)


def q277_score_psi(spark, sf_dir):
    """Population Stability Index (operators/drift.psi_buckets — the
    standard model-monitoring drift score): a reference cohort vs a
    deliberately up-shifted current cohort over 8 score buckets;
    Laplace add-one smoothing pinned on both sides, per-bucket terms
    micro-quantized before the exact sum — the shift lands well past
    the conventional 0.25 'shifted' line.  (bucket, ca, cb, term_micro,
    psi_total_micro)."""
    from eget_spark.operators.drift import psi_buckets

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.expr(
            "CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END"
        ).alias("cohort"),
        F.expr(_Q277_BUCKET).cast("long").alias("bucket"),
    )
    return psi_buckets(scored, "cohort", "bucket", "ref", "cur")


_Q277_SQL = rf"""
WITH vals AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS g,
         CAST({_Q277_BUCKET} AS BIGINT) AS bucket
  FROM documents
),
per_b AS (
  SELECT bucket,
         CAST(sum(CASE WHEN g = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN g = 'ref' THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM vals GROUP BY bucket
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) AS nbuckets
  FROM per_b
),
terms AS (
  SELECT bucket, ca, cb,
         CAST(round((CAST(ca + 1 AS DOUBLE) / CAST(na + nbuckets AS DOUBLE)
                     - CAST(cb + 1 AS DOUBLE)
                       / CAST(nb + nbuckets AS DOUBLE))
                    * ln((CAST(ca + 1 AS DOUBLE)
                          / CAST(na + nbuckets AS DOUBLE))
                         / (CAST(cb + 1 AS DOUBLE)
                            / CAST(nb + nbuckets AS DOUBLE))) * 1e6)
              AS BIGINT) AS term_micro
  FROM per_b CROSS JOIN tot
),
total AS (
  SELECT CAST(sum(term_micro) AS BIGINT) AS psi_total_micro FROM terms
)
SELECT bucket, ca, cb, term_micro, psi_total_micro
FROM terms CROSS JOIN total
ORDER BY bucket
"""


def q278_fetch_wilson(spark, sf_dir):
    """Wilson score intervals (operators/drift.wilson_intervals —
    Wilson JASA 1927): per-host fetch-success confidence bounds over a
    pinned synthetic ledger whose true success rate grows with the host
    index — the small-n uncertainty companion to q251's UCB bonus (a
    7/7 host is NOT certainly healthy; its lower bound says so).
    (key, n, successes, p, lo, hi)."""
    from eget_spark.operators.drift import wilson_intervals

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(
        F.expr("concat('h', CAST(doc_id % 30 AS STRING))").alias("host"),
        F.expr(
            "CAST(CASE WHEN (doc_id * 2654435761) % 100"
            " < 50 + doc_id % 30 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("success"),
    )
    return wilson_intervals(ledger, "host", "success")


_Q278_Z = 1.959964
_Q278_SQL = rf"""
WITH ledger AS (
  SELECT 'h' || CAST(doc_id % 30 AS VARCHAR) AS key,
         CASE WHEN (doc_id * 2654435761) % 100 < 50 + doc_id % 30
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS s
  FROM documents
),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS successes
  FROM ledger GROUP BY key
)
SELECT key, n, successes,
       round(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p,
       round((CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
              + {_Q278_Z * _Q278_Z!r} / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + {_Q278_Z * _Q278_Z!r} / CAST(n AS DOUBLE))
             - {_Q278_Z!r}
               * sqrt(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
                      * (1.0 - CAST(successes AS DOUBLE)
                               / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + {_Q278_Z * _Q278_Z!r}
                        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 + {_Q278_Z * _Q278_Z!r} / CAST(n AS DOUBLE)), 6)
         AS lo,
       round((CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
              + {_Q278_Z * _Q278_Z!r} / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + {_Q278_Z * _Q278_Z!r} / CAST(n AS DOUBLE))
             + {_Q278_Z!r}
               * sqrt(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
                      * (1.0 - CAST(successes AS DOUBLE)
                               / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + {_Q278_Z * _Q278_Z!r}
                        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 + {_Q278_Z * _Q278_Z!r} / CAST(n AS DOUBLE)), 6)
         AS hi
FROM agg
ORDER BY key
"""


def q279_latency_w1(spark, sf_dir):
    """Exact 1-D Wasserstein-1 distance (operators/drift.wasserstein_1d
    — the area between ECDFs, Vallender 1974): the same stepped-vs-
    clean cohorts as q276, but magnitude-aware — KS reports the worst
    ECDF gap, W1 integrates all of it, in milliseconds; exclusive
    deviations times previous-value gaps are the exact left-Riemann sum
    of a step function, all int64 until one round-6 division; prefix
    machinery via with_global_prefix_sums.  (n_a, n_b, w1_num, w1)."""
    from eget_spark.operators.drift import wasserstein_1d

    docs = _t(spark, sf_dir, "documents")
    series = docs.select(
        F.expr(_Q276_GROUP).alias("cohort"),
        F.expr(_Q254_VALUE).cast("long").alias("value"),
    )
    return wasserstein_1d(series, "cohort", "value", "stepped", "clean")


_Q279_SQL = rf"""
WITH vals AS (
  SELECT {_Q276_GROUP} AS g,
         CAST({_Q254_VALUE.replace("DIV", "//")} AS BIGINT) AS v
  FROM documents
),
per_v AS (
  SELECT v,
         CAST(sum(CASE WHEN g = 'stepped' THEN 1 ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(sum(CASE WHEN g = 'stepped' THEN 0 ELSE 1 END) AS BIGINT)
           AS cb
  FROM vals GROUP BY v
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM per_v
),
cum AS (
  SELECT v, ca, cb,
         sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
           CURRENT ROW) AS ca_cum,
         sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
           CURRENT ROW) AS cb_cum,
         lag(v) OVER (ORDER BY v) AS prev_v
  FROM per_v
),
contrib AS (
  SELECT abs(nb * (ca_cum - ca) - na * (cb_cum - cb))
         * (v - coalesce(prev_v, v)) AS c, na, nb
  FROM cum CROSS JOIN tot
)
SELECT na AS n_a, nb AS n_b,
       CAST(coalesce(sum(c), 0) AS BIGINT) AS w1_num,
       round(CAST(coalesce(sum(c), 0) AS DOUBLE)
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS w1
FROM contrib GROUP BY na, nb
"""


def q280_quality_gate_threshold(spark, sf_dir):
    """Optimal quality-gate thresholds (operators/drift.best_thresholds
    — max-F1 and max-Youden-J over the full threshold sweep): the SAME
    pinned classifier q252 calibrates and q265 scores threshold-free —
    together the complete eval story ends with the number you actually
    set the gate to; exact int64 tp/fp per candidate via descending
    prefix sums, ppm ratios, ties pinned to the stricter gate.
    (criterion, threshold, tp, fp, fn, tn, precision_ppm, recall_ppm,
    f1_ppm, j_micro)."""
    from eget_spark.operators.drift import best_thresholds

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.expr("(doc_id * 2654435761) % 1000001").alias("score"),
        F.expr(
            "CAST(CASE WHEN (doc_id * 1103515245 + 12345) % 1000000"
            "  < (doc_id * 2654435761) % 1000001 THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("label"),
    )
    return best_thresholds(scored, "score", "label")


_Q280_SQL = r"""
WITH scored AS (
  SELECT (doc_id * 2654435761) % 1000001 AS s,
         CASE WHEN (doc_id * 1103515245 + 12345) % 1000000
                   < (doc_id * 2654435761) % 1000001
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
  FROM documents
),
per_s AS (
  SELECT s, CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(1 - y) AS BIGINT) AS neg
  FROM scored GROUP BY s
),
tot AS (
  SELECT CAST(sum(pos) AS BIGINT) AS p_tot,
         CAST(sum(neg) AS BIGINT) AS n_tot
  FROM per_s
),
sweep AS (
  SELECT s AS threshold,
         sum(pos) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS tp,
         sum(neg) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS fp,
         p_tot, n_tot
  FROM per_s CROSS JOIN tot
),
m AS (
  SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         CAST(p_tot - tp AS BIGINT) AS fn,
         CAST(n_tot - fp AS BIGINT) AS tn,
         CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
         CAST(tp * 1000000 // p_tot AS BIGINT) AS recall_ppm,
         CAST(tp * 1000000 // p_tot - fp * 1000000 // n_tot AS BIGINT)
           AS j_micro
  FROM sweep
),
m2 AS (
  SELECT *,
         CAST(CASE WHEN precision_ppm + recall_ppm > 0
              THEN 2 * precision_ppm * recall_ppm
                   // (precision_ppm + recall_ppm)
              ELSE 0 END AS BIGINT) AS f1_ppm
  FROM m
)
SELECT * FROM (
  SELECT 'f1' AS criterion, threshold, tp, fp, fn, tn, precision_ppm,
         recall_ppm, f1_ppm, j_micro
  FROM m2 ORDER BY f1_ppm DESC, threshold DESC LIMIT 1
)
UNION ALL
SELECT * FROM (
  SELECT 'youden_j' AS criterion, threshold, tp, fp, fn, tn,
         precision_ppm, recall_ppm, f1_ppm, j_micro
  FROM m2 ORDER BY j_micro DESC, threshold DESC LIMIT 1
)
ORDER BY criterion
"""


def q281_sprt_health(spark, sf_dir):
    """Wald SPRT host-health decisions (operators/drift.sprt_decisions
    — Wald 1945, p0=0.5 vs p1=0.7 at alpha=beta=0.05): the q278 success
    ledger replayed SEQUENTIALLY — hosts whose true rate (50%..79% by
    index) is clearly above/below the hypotheses decide in a handful of
    fetches, borderline ones keep sampling; per-observation LLR steps
    are two pre-quantized micro constants so the running sum is exact
    int64, the first bound crossing wins (pinned — SPRT never sees
    later samples).  (key, n, llr_final_micro, first_up_ts,
    first_dn_ts, decision)."""
    from eget_spark.operators.drift import sprt_decisions

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(
        F.expr("concat('h', CAST(doc_id % 30 AS STRING))").alias("host"),
        F.expr("doc_id DIV 30").alias("ts"),
        F.expr(
            "CAST(CASE WHEN (doc_id * 2654435761) % 100"
            " < 50 + doc_id % 30 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("success"),
    )
    return sprt_decisions(ledger, "host", "ts", "success")


_Q281_SQL = r"""
WITH ledger AS (
  SELECT 'h' || CAST(doc_id % 30 AS VARCHAR) AS key,
         doc_id // 30 AS ts,
         CASE WHEN (doc_id * 2654435761) % 100 < 50 + doc_id % 30
              THEN 1 ELSE 0 END AS s
  FROM documents
),
stepped AS (
  SELECT key, ts,
         sum(CASE WHEN s = 1 THEN 336472 ELSE -510826 END)
           OVER (PARTITION BY key ORDER BY ts ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS llr
  FROM ledger
),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n,
         CAST(max_by(llr, ts) AS BIGINT) AS llr_final_micro,
         min(CASE WHEN llr >= 2944439 THEN ts END) AS first_up_ts,
         min(CASE WHEN llr <= -2944439 THEN ts END) AS first_dn_ts
  FROM stepped GROUP BY key
)
SELECT key, n, llr_final_micro, first_up_ts, first_dn_ts,
       CASE WHEN first_up_ts IS NOT NULL
                 AND (first_dn_ts IS NULL OR first_up_ts < first_dn_ts)
            THEN 'accept_h1'
            WHEN first_dn_ts IS NOT NULL THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM agg
ORDER BY key
"""


def q282_ipf_raking(spark, sf_dir):
    """Iterative proportional fitting / raking (operators/sampling.
    ipf_raking — Deming & Stephan 1940): per-cell sampling weights that
    balance the lang AND source marginals of the corpus simultaneously
    toward uniform — the two-dimensional generalization of q54's
    proportional mix and q224's UniMax; 3 pinned (row, col) sweeps,
    weights in exact ppm with ONE IEEE-rounded double factor per margin
    per sweep (the int64-overflow-safe pin), final column marginals
    exact up to DIV floors.  (r, c, n, w_ppm)."""
    from eget_spark.operators.sampling import ipf_raking

    return ipf_raking(_t(spark, sf_dir, "documents"), "lang", "source",
                      n_rounds=3)


def _q282_sql(n_rounds: int = 3) -> str:
    head = """
WITH cells AS (
  SELECT lang AS r, source AS c, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(count(DISTINCT r) AS BIGINT) AS nr,
         CAST(count(DISTINCT c) AS BIGINT) AS nc
  FROM cells
),
w0 AS (SELECT r, c, n, CAST(1000000 AS BIGINT) AS w FROM cells)"""
    parts = [head]
    prev = "w0"
    for k in range(1, n_rounds + 1):
        parts.append(f""",
rm{k} AS (
  SELECT r, CAST(sum(n * w) AS BIGINT) AS cur FROM {prev} GROUP BY r
),
wr{k} AS (
  SELECT s.r, s.c, s.n,
         CAST(s.w * CAST(round(CAST(total * 1000000 // nr AS DOUBLE)
                               * 1e6 / CAST(m.cur AS DOUBLE)) AS BIGINT)
              // 1000000 AS BIGINT) AS w
  FROM {prev} s JOIN rm{k} m ON m.r = s.r CROSS JOIN tot
),
cm{k} AS (
  SELECT c, CAST(sum(n * w) AS BIGINT) AS cur FROM wr{k} GROUP BY c
),
w{k} AS (
  SELECT s.r, s.c, s.n,
         CAST(s.w * CAST(round(CAST(total * 1000000 // nc AS DOUBLE)
                               * 1e6 / CAST(m.cur AS DOUBLE)) AS BIGINT)
              // 1000000 AS BIGINT) AS w
  FROM wr{k} s JOIN cm{k} m ON m.c = s.c CROSS JOIN tot
)""")
        prev = f"w{k}"
    parts.append(
        f"\nSELECT r, c, n, w AS w_ppm FROM {prev} ORDER BY r, c\n"
    )
    return "".join(parts)


_Q282_SQL = _q282_sql(3)


def q283_negative_sampling(spark, sf_dir):
    """word2vec negative-sampling table (operators/sampling.
    negative_sampling_table — Mikolov et al. 2013 §2.2, the published
    3/4-power noise distribution): top-100 vocabulary rows with exact
    count^0.75 micro weights (exp∘ln, the transcendental pair the suite
    already pins), sampling vs raw shares side by side so the Zipf-head
    flattening is visible; what any embedding/contrastive pipeline over
    the corpus draws its noise words from.
    (tok, cnt, s_micro, share_ppm, raw_ppm)."""
    from eget_spark.operators.sampling import negative_sampling_table

    return negative_sampling_table(_t(spark, sf_dir, "documents"),
                                   "text", k=100)


_Q283_SQL = r"""
WITH vocab AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), t -> t <> '')) AS tok
    FROM documents
  ) GROUP BY tok
),
scored AS (
  SELECT word, cnt,
         CAST(round(1e6 * exp(0.75 * ln(CAST(cnt AS DOUBLE))))
              AS BIGINT) AS s_micro
  FROM vocab
),
tot AS (
  SELECT CAST(sum(s_micro) AS BIGINT) AS s_tot,
         CAST(sum(cnt) AS BIGINT) AS c_tot
  FROM scored
)
SELECT word AS tok, cnt, s_micro,
       CAST(round(CAST(s_micro AS DOUBLE) * 1e6
                  / CAST(s_tot AS DOUBLE)) AS BIGINT) AS share_ppm,
       CAST(round(CAST(cnt AS DOUBLE) * 1e6
                  / CAST(c_tot AS DOUBLE)) AS BIGINT) AS raw_ppm
FROM scored CROSS JOIN tot
ORDER BY cnt DESC, tok LIMIT 100
"""


def q284_luhn_summaries(spark, sf_dir):
    """Luhn extractive summaries (operators/summarize.luhn_sentences —
    Luhn IBM Journal 1958, the founding auto-abstract method; pinned
    simplified significance-density variant): top-3 sentences per
    document by sig_cnt^2*1e6 DIV n_tok over doc-frequent non-stopword
    terms, emitted in document order — the cheap lead-extraction pass
    for snippets and distillation targets, the sentence-level companion
    to q240 TextRank keywords.
    (id, sent_idx, n_tok, sig_cnt, score_micro, sentence)."""
    from eget_spark.operators.summarize import luhn_sentences

    return luhn_sentences(_t(spark, sf_dir, "documents"), "doc_id",
                          "text", min_freq=2, top_n=3)


def _q284_sql() -> str:
    from eget_spark.operators.keywords import RAKE_STOPWORDS

    stoplist = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    return rf"""
WITH raw AS (
  SELECT doc_id AS id,
         unnest(regexp_split_to_array(text, '[.!?]+')) AS raw,
         generate_subscripts(regexp_split_to_array(text, '[.!?]+'), 1) - 1
           AS sent_idx
  FROM documents
),
sents AS (
  SELECT id, sent_idx,
         regexp_replace(regexp_replace(raw, '^\s+', ''), '\s+$', '')
           AS sentence
  FROM raw
),
stoks AS (
  SELECT id, sent_idx, sentence,
         list_filter(regexp_split_to_array(lower(sentence),
                     '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM sents
),
valid AS (
  SELECT *, CAST(len(toks) AS BIGINT) AS n_tok
  FROM stoks WHERE len(toks) > 0
),
doc_counts AS (
  SELECT id, tok, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT doc_id AS id,
           unnest(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), t -> t <> '')) AS tok
    FROM documents
  ) GROUP BY id, tok
),
significant AS (
  SELECT id, tok FROM doc_counts
  WHERE cnt >= 2 AND tok NOT IN ({stoplist})
),
sig_per_sent AS (
  SELECT v.id, v.sent_idx, CAST(count(*) AS BIGINT) AS sig_cnt
  FROM (SELECT id, sent_idx, unnest(toks) AS tok FROM valid) v
  JOIN significant s ON s.id = v.id AND s.tok = v.tok
  GROUP BY v.id, v.sent_idx
),
scored AS (
  SELECT v.id, v.sent_idx, v.n_tok, g.sig_cnt,
         CAST(g.sig_cnt * g.sig_cnt * 1000000 // v.n_tok AS BIGINT)
           AS score_micro,
         v.sentence
  FROM valid v
  JOIN sig_per_sent g ON g.id = v.id AND g.sent_idx = v.sent_idx
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id
             ORDER BY score_micro DESC, sent_idx) AS rnk
  FROM scored
)
SELECT id, sent_idx, n_tok, sig_cnt, score_micro, sentence
FROM ranked WHERE rnk <= 3
ORDER BY id, sent_idx
"""


_Q284_SQL = _q284_sql()


# Pinned fetch-failure indicator for the q285 ledger: base SLA rate 3%
# (30/1000), hosts 35-39 elevated to 25% — the multiple-testing
# situation BH exists for (a few truly-bad hosts hidden among many null
# tests); the gap is sized so the bad hosts clear the correction even
# at sf0.01's ~12 fetches/host while the null hosts never do.
_Q285_FAIL = (
    "CAST(CASE WHEN (doc_id * 2654435761) % 1000 < "
    "CASE WHEN doc_id % 40 >= 35 THEN 250 ELSE 30 END "
    "THEN 1 ELSE 0 END AS BIGINT)"
)


def q285_fdr_hosts(spark, sf_dir):
    """Benjamini-Hochberg FDR over per-host failure z-tests
    (operators/fdr.host_failure_fdr — Benjamini & Hochberg JRSS-B
    1995): 40 synthetic hosts tested one-sided against a 3% SLA rate,
    p-values via the pinned A&S 7.1.26 normal tail in exact ppm, the
    step-up cutoff an exact-int64 comparison — which hosts a scheduler
    may throttle while bounding the innocent fraction at 5%; the
    multiple-testing companion to q278 Wilson and q281 SPRT.
    (key, n, fails, z, p_ppm, rnk, discovery)."""
    from eget_spark.operators.fdr import host_failure_fdr

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(
        F.expr("concat('h', CAST(doc_id % 40 AS STRING))").alias("host"),
        F.expr(_Q285_FAIL).alias("fail"),
    )
    return host_failure_fdr(
        ledger, "host", "fail", p0_ppm=30_000, alpha_ppm=50_000
    )


def _q285_sql() -> str:
    from eget_spark.operators.fdr import failure_z_sql, phi_upper_ppm_sql

    z = failure_z_sql("n", "fails", 30_000)
    return rf"""
WITH ledger AS (
  SELECT concat('h', CAST(doc_id % 40 AS VARCHAR)) AS host,
         {_Q285_FAIL} AS fail
  FROM documents
),
per AS (
  SELECT host AS key, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(fail) AS BIGINT) AS fails
  FROM ledger GROUP BY host
),
scored AS (
  SELECT key, n, fails,
         round({z}, 6) AS z,
         {phi_upper_ppm_sql(z)} AS p_ppm
  FROM per
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY p_ppm, key) AS BIGINT) AS rnk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM scored
),
cut AS (
  SELECT *,
         max(CASE WHEN p_ppm * m <= rnk * 50000 THEN rnk ELSE 0 END)
           OVER () AS k
  FROM ranked
)
SELECT key, n, fails, z, p_ppm, rnk, rnk <= k AS discovery
FROM cut ORDER BY rnk
"""


_Q285_SQL = _q285_sql()


def q286_burrows_delta(spark, sf_dir):
    """Burrows' Delta stylistic distance between sources
    (operators/stylometry.burrows_delta — Burrows LLC 2002): z-score
    profiles over the global top-50 most-frequent words (function-word
    fingerprint, topic-blind), mean |z_a - z_b| per source pair in
    exact micro units — template farms and machine-spun mirrors show
    near-zero Delta between nominally unrelated sources; the stylistic
    companion to q263's topical JSD and q247's structural WL colors.
    (source_a, source_b, n_words, delta_micro)."""
    from eget_spark.operators.stylometry import burrows_delta

    return burrows_delta(
        _t(spark, sf_dir, "documents"), "source", "text", k=50
    )


_Q286_SQL = r"""
WITH toks AS (
  SELECT source AS grp,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), t -> t <> '')) AS tok
  FROM documents
),
gw AS (
  SELECT grp, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY grp, tok
),
totals AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_grp FROM gw GROUP BY grp
),
panel AS (
  SELECT tok FROM (
    SELECT tok, CAST(sum(cnt) AS BIGINT) AS tot FROM gw GROUP BY tok
  ) ORDER BY tot DESC, tok LIMIT 50
),
cells AS (
  SELECT t.grp, p.tok,
         coalesce(g.cnt, 0) * CAST(1000000 AS BIGINT) // t.n_grp AS f_ppm
  FROM totals t CROSS JOIN panel p
  LEFT JOIN gw g ON g.grp = t.grp AND g.tok = p.tok
),
stats AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS s,
         CAST(sum(f_ppm) AS BIGINT) AS sum_f,
         CAST(sum(f_ppm * f_ppm) AS BIGINT) AS sum_f2
  FROM cells GROUP BY tok
),
prof AS (
  SELECT c.grp, c.tok,
         CAST(round(1e6 * CAST(s * f_ppm - sum_f AS DOUBLE)
              / sqrt(CAST(s * sum_f2 - sum_f * sum_f AS DOUBLE)))
              AS BIGINT) AS z_micro
  FROM cells c JOIN stats st USING (tok)
  WHERE s * sum_f2 - sum_f * sum_f > 0
)
SELECT a.grp AS source_a, b.grp AS source_b,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(abs(a.z_micro - b.z_micro)) // count(*) AS BIGINT)
         AS delta_micro
FROM prof a JOIN prof b ON a.tok = b.tok AND a.grp < b.grp
GROUP BY a.grp, b.grp
ORDER BY source_a, source_b
"""


def q287_latency_mwu(spark, sf_dir):
    """Two-sample Mann-Whitney U / Wilcoxon rank-sum test
    (operators/drift.mann_whitney_u — Mann & Whitney 1947, tie-corrected
    normal approximation per Lehmann 1975): the q254 latency population,
    stepped vs clean cohorts — the RANK test beside q276's KS distance
    on the SAME ledger (KS: "different anywhere"; MWU: "stochastically
    slower"), with the U/(n_a*n_b) effect size that is exactly q265's
    AUC identity; doubled midranks and tie masses exact int64, z/p via
    the pinned shared-text expression and A&S erfc ppm tail.
    (n_a, n_b, u_a_x2, t3t, z, p_ppm, auc_ppm)."""
    from eget_spark.operators.drift import mann_whitney_u

    docs = _t(spark, sf_dir, "documents")
    series = docs.select(
        F.expr(_Q276_GROUP).alias("cohort"),
        F.expr(_Q254_VALUE).cast("long").alias("value"),
    )
    return mann_whitney_u(series, "cohort", "value", "stepped", "clean")


def _q287_sql() -> str:
    from eget_spark.operators.drift import mwu_z_sql
    from eget_spark.operators.fdr import p_two_sided_ppm_sql

    z = mwu_z_sql()
    guard = "nn * (nn - 1) * (nn + 1) - t3t > 0"
    return rf"""
WITH series AS (
  SELECT {_Q276_GROUP} AS cohort,
         CAST({_Q254_VALUE.replace("DIV", "//")} AS BIGINT) AS value
  FROM documents
),
tagged AS (
  SELECT value, CASE WHEN cohort = 'stepped' THEN 1 ELSE 0 END AS is_a
  FROM series
),
seq AS (
  SELECT value, is_a, row_number() OVER (ORDER BY value) AS r
  FROM tagged
),
grp AS (
  SELECT value, CAST(min(r) AS BIGINT) AS rmin,
         CAST(count(*) AS BIGINT) AS ties,
         CAST(sum(is_a) AS BIGINT) AS cnt_a
  FROM seq GROUP BY value
),
agg AS (
  SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
         CAST(sum(ties) - sum(cnt_a) AS BIGINT) AS n_b,
         CAST(sum(ties) AS BIGINT) AS nn,
         CAST(sum(cnt_a * (2 * rmin + ties - 1)) AS BIGINT) AS ra_x2,
         CAST(sum(ties * ties * ties - ties) AS BIGINT) AS t3t
  FROM grp
),
fin AS (
  SELECT n_a, n_b, nn,
         CAST(ra_x2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2, t3t
  FROM agg
)
SELECT n_a, n_b, u_a_x2, t3t,
       CASE WHEN {guard} THEN round({z}, 6) END AS z,
       CASE WHEN {guard} THEN {p_two_sided_ppm_sql(z)} END AS p_ppm,
       CAST(u_a_x2 * CAST(500000 AS BIGINT) // (n_a * n_b) AS BIGINT)
         AS auc_ppm
FROM fin
"""


_Q287_SQL = _q287_sql()


# Pinned page-lifetime ledger for q288: durations 1..30 rounds, ~30%
# right-censored (page still unchanged when observation ended).
_Q288_DUR = "1 + (doc_id * 2654435761) % 30"
_Q288_EVT = "CASE WHEN (doc_id * 1099087573) % 10 < 3 THEN 0 ELSE 1 END"


def q288_page_survival(spark, sf_dir):
    """Kaplan-Meier page-lifetime survival curves per source
    (operators/survival.kaplan_meier — Kaplan & Meier JASA 1958): the
    nonparametric product-limit estimate of P(page unchanged > t
    rounds) under right-censoring — the assumption CHECK for q243's
    exponential-lifetime refresh policies and q187's Poisson rates
    (censored pages contribute risk but no event; dropping them biases
    lifetimes short and over-crawls).  Log-factors quantized to exact
    micro before the running sum, survival via the pinned exp/ln pair.
    (grp, t, n_risk, d_events, c_censored, s_ppm)."""
    from eget_spark.operators.survival import kaplan_meier

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(
        F.col("source"),
        F.expr(_Q288_DUR).cast("long").alias("duration"),
        F.expr(_Q288_EVT).cast("long").alias("event"),
    )
    return kaplan_meier(ledger, "source", "duration", "event")


_Q288_SQL = rf"""
WITH ledger AS (
  SELECT source AS grp,
         CAST({_Q288_DUR} AS BIGINT) AS t,
         CAST({_Q288_EVT} AS BIGINT) AS e
  FROM documents
),
per_t AS (
  SELECT grp, t, CAST(sum(e) AS BIGINT) AS d_events,
         CAST(count(*) - sum(e) AS BIGINT) AS c_censored,
         CAST(count(*) AS BIGINT) AS n_at_t
  FROM ledger GROUP BY grp, t
),
at_risk AS (
  SELECT grp, t, d_events, c_censored,
         CAST(sum(n_at_t) OVER (PARTITION BY grp)
              - sum(n_at_t) OVER (PARTITION BY grp ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              + n_at_t AS BIGINT) AS n_risk
  FROM per_t
),
lnf AS (
  SELECT *,
         CASE WHEN d_events = 0 THEN CAST(0 AS BIGINT)
              WHEN n_risk > d_events THEN
                CAST(round(1e6 * ln(CAST(n_risk - d_events AS DOUBLE)
                     / CAST(n_risk AS DOUBLE))) AS BIGINT)
         END AS lnf_micro
  FROM at_risk
),
stepped AS (
  SELECT grp, t, n_risk, d_events, c_censored,
         max(CASE WHEN lnf_micro IS NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS dead,
         sum(coalesce(lnf_micro, 0))
           OVER (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM lnf
)
SELECT grp, t, n_risk, d_events, c_censored,
       CASE WHEN dead = 1 THEN CAST(0 AS BIGINT)
            ELSE CAST(round(1e6 * exp(CAST(cum AS DOUBLE) / 1e6))
                 AS BIGINT) END AS s_ppm
FROM stepped ORDER BY grp, t
"""


def q289_rate_shrinkage(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-host success
    rates (operators/shrinkage.beta_binomial_shrink — Efron & Morris
    JASA 1975): the q278 Wilson ledger re-estimated by pooling the
    fleet — a Beta prior moment-matched to the observed rate spread,
    each host reported at its posterior mean, so small-n extremes
    (3/3, 0/4) stop outranking well-measured hosts; the estimator a
    recrawl scheduler should rank by, beside q278's intervals and
    q285's discoveries.  (key, n, successes, raw_ppm, shrunk_ppm,
    prior_alpha_micro, prior_beta_micro)."""
    from eget_spark.operators.shrinkage import beta_binomial_shrink

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(
        F.expr("concat('h', CAST(doc_id % 30 AS STRING))").alias("host"),
        F.expr(
            "CAST(CASE WHEN (doc_id * 2654435761) % 100"
            " < 50 + doc_id % 30 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("success"),
    )
    return beta_binomial_shrink(ledger, "host", "success")


def _q289_sql() -> str:
    from eget_spark.operators.shrinkage import shrink_sql

    shrunk, a_out, b_out = shrink_sql()
    return rf"""
WITH ledger AS (
  SELECT concat('h', CAST(doc_id % 30 AS VARCHAR)) AS host,
         CAST(CASE WHEN (doc_id * 2654435761) % 100
              < 50 + doc_id % 30 THEN 1 ELSE 0 END AS BIGINT) AS success
  FROM documents
),
per AS (
  SELECT host AS key, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(success) AS BIGINT) AS successes
  FROM ledger GROUP BY host
),
rated AS (
  SELECT *, CAST(successes * 1000000 // n AS BIGINT) AS raw_ppm,
         CAST(successes * 1000 // n AS BIGINT) AS p_milli
  FROM per
),
moments AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(p_milli) AS BIGINT) AS sum_p,
         CAST(sum(p_milli * p_milli) AS BIGINT) AS sum_p2
  FROM rated
)
SELECT key, n, successes, raw_ppm,
       {shrunk} AS shrunk_ppm,
       {a_out} AS prior_alpha_micro,
       {b_out} AS prior_beta_micro
FROM rated CROSS JOIN moments
ORDER BY key
"""


_Q289_SQL = _q289_sql()


# Pinned lifetime for q290: the q276 'stepped' cohort lives on a 1..12
# clock, the 'clean' cohort on 1..30 — a real lifetime gap for the
# log-rank test to find; censoring reuses the q288 flag.
_Q290_DUR = (
    "1 + (doc_id * 2654435761) % "
    "(CASE WHEN (doc_id % 25) % 5 = 0 THEN 12 ELSE 30 END)"
)


def q290_lifetime_logrank(spark, sf_dir):
    """Two-sample log-rank (Mantel-Cox) test on page lifetimes
    (operators/survival.log_rank — Mantel 1966): the q276 stepped vs
    clean cohorts given genuinely different lifetime clocks, tested
    under the same right-censoring as q288 — the hypothesis-test
    companion to q288's KM curves ("do these two host tiers need
    different refresh schedules?"); per-event-time O-E and
    hypergeometric variance quantized to exact micro before the sums,
    z/p via the pinned A&S erfc.
    (n_a, n_b, n_times, sum_oe_micro, sum_v_micro, z, p_ppm)."""
    from eget_spark.operators.survival import log_rank

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(
        F.expr(_Q276_GROUP).alias("cohort"),
        F.expr(_Q290_DUR).cast("long").alias("duration"),
        F.expr(_Q288_EVT).cast("long").alias("event"),
    )
    return log_rank(
        ledger, "cohort", "duration", "event", "stepped", "clean"
    )


def _q290_sql() -> str:
    from eget_spark.operators.fdr import p_two_sided_ppm_sql

    z = (
        "(CAST(sum_oe_micro AS DOUBLE)"
        " / (1000.0 * sqrt(CAST(sum_v_micro AS DOUBLE))))"
    )
    return rf"""
WITH ledger AS (
  SELECT CASE WHEN {_Q276_GROUP} = 'stepped' THEN 1 ELSE 0 END AS is_a,
         CAST({_Q290_DUR} AS BIGINT) AS t,
         CAST({_Q288_EVT} AS BIGINT) AS e
  FROM documents
),
per_t AS (
  SELECT t, CAST(sum(is_a * e) AS BIGINT) AS d_a,
         CAST(sum(e) AS BIGINT) AS d,
         CAST(sum(is_a) AS BIGINT) AS m_a,
         CAST(count(*) AS BIGINT) AS m
  FROM ledger GROUP BY t
),
risk AS (
  SELECT t, d_a, d,
         CAST(sum(m_a) OVER ()
              - sum(m_a) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) + m_a AS BIGINT) AS n_a_t,
         CAST(sum(m) OVER ()
              - sum(m) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) + m AS BIGINT) AS n_t,
         CAST(sum(m_a) OVER () AS BIGINT) AS tot_a,
         CAST(sum(m) OVER () AS BIGINT) AS tot
  FROM per_t
),
contrib AS (
  SELECT tot_a, tot,
         CASE WHEN d > 0 AND n_t > 1 THEN CAST(round(1e6 * (
           CAST(d_a AS DOUBLE) - CAST(d AS DOUBLE)
           * CAST(n_a_t AS DOUBLE) / CAST(n_t AS DOUBLE))) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS oe_micro,
         CASE WHEN d > 0 AND n_t > 1 THEN CAST(round(1e6 * (
           CAST(d AS DOUBLE) * (CAST(n_a_t AS DOUBLE)
           / CAST(n_t AS DOUBLE)) * (1.0 - CAST(n_a_t AS DOUBLE)
           / CAST(n_t AS DOUBLE)) * CAST(n_t - d AS DOUBLE)
           / CAST(n_t - 1 AS DOUBLE))) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS v_micro,
         CASE WHEN d > 0 AND n_t > 1 THEN 1 ELSE 0 END AS counted
  FROM risk
),
agg AS (
  SELECT tot_a, tot, CAST(sum(counted) AS BIGINT) AS n_times,
         CAST(sum(oe_micro) AS BIGINT) AS sum_oe_micro,
         CAST(sum(v_micro) AS BIGINT) AS sum_v_micro
  FROM contrib GROUP BY tot_a, tot
)
SELECT CAST(tot_a AS BIGINT) AS n_a,
       CAST(tot - tot_a AS BIGINT) AS n_b,
       n_times, sum_oe_micro, sum_v_micro,
       CASE WHEN sum_v_micro > 0 THEN round({z}, 6) END AS z,
       CASE WHEN sum_v_micro > 0 THEN {p_two_sided_ppm_sql(z)} END
         AS p_ppm
FROM agg
"""


_Q290_SQL = _q290_sql()


# Pinned q291 ledger with a built-in Simpson structure: fleet A wins
# +6 pts inside EVERY tier, but A's allocation share rises with tier
# hardness (2+tier out of 10), so pooled raw rates flatter fleet B.
_Q291_FLEET = (
    "CASE WHEN (doc_id * 1099087573) % 10 < 2 + doc_id % 5 "
    "THEN 'A' ELSE 'B' END"
)
_Q291_OUT = (
    "CASE WHEN (doc_id * 2654435761) % 100 < 75 - 12 * (doc_id % 5)"
    " + (CASE WHEN (doc_id * 1099087573) % 10 < 2 + doc_id % 5"
    " THEN 6 ELSE 0 END) THEN 1 ELSE 0 END"
)


def q291_fleet_mh(spark, sf_dir):
    """Mantel-Haenszel pooled fleet comparison across host tiers
    (operators/stratified.mantel_haenszel — Mantel & Haenszel JNCI
    1959): fleet A beats B inside every tier but draws the hard hosts,
    so pooled raw rates reverse (Simpson's paradox); MH pools the
    within-tier 2x2 tables and surfaces A's true advantage with the
    CMH z — the stratified companion to q272's single-table G-test.
    Per-stratum terms quantized to exact micro before the sums; OR and
    z one pinned division each.  (n_strata, sum_r_micro, sum_s_micro,
    or_mh, sum_oe_micro, sum_v_micro, z, p_ppm)."""
    from eget_spark.operators.stratified import mantel_haenszel

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(
        F.expr("concat('t', CAST(doc_id % 5 AS STRING))").alias("tier"),
        F.expr(_Q291_FLEET).alias("fleet"),
        F.expr(_Q291_OUT).cast("long").alias("outcome"),
    )
    return mantel_haenszel(ledger, "tier", "fleet", "outcome", "A", "B")


def _q291_sql() -> str:
    from eget_spark.operators.fdr import p_two_sided_ppm_sql

    z = (
        "(CAST(sum_oe_micro AS DOUBLE)"
        " / (1000.0 * sqrt(CAST(sum_v_micro AS DOUBLE))))"
    )
    return rf"""
WITH ledger AS (
  SELECT concat('t', CAST(doc_id % 5 AS VARCHAR)) AS stratum,
         CASE WHEN {_Q291_FLEET} = 'A' THEN 1 ELSE 0 END AS is_a,
         CAST({_Q291_OUT} AS BIGINT) AS y
  FROM documents
),
cells AS (
  SELECT stratum,
         CAST(sum(is_a * y) AS BIGINT) AS a,
         CAST(sum(is_a * (1 - y)) AS BIGINT) AS b,
         CAST(sum((1 - is_a) * y) AS BIGINT) AS c,
         CAST(sum((1 - is_a) * (1 - y)) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM ledger GROUP BY stratum
),
contrib AS (
  SELECT
    CASE WHEN n > 1 AND a + b > 0 AND c + d > 0 THEN 1 ELSE 0 END
      AS counted,
    CASE WHEN n > 1 AND a + b > 0 AND c + d > 0 THEN
      CAST(round(1e6 * CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           / CAST(n AS DOUBLE)) AS BIGINT)
      ELSE CAST(0 AS BIGINT) END AS r_micro,
    CASE WHEN n > 1 AND a + b > 0 AND c + d > 0 THEN
      CAST(round(1e6 * CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
           / CAST(n AS DOUBLE)) AS BIGINT)
      ELSE CAST(0 AS BIGINT) END AS s_micro,
    CASE WHEN n > 1 AND a + b > 0 AND c + d > 0 THEN
      CAST(round(1e6 * (CAST(a AS DOUBLE)
           - CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
           / CAST(n AS DOUBLE))) AS BIGINT)
      ELSE CAST(0 AS BIGINT) END AS oe_micro,
    CASE WHEN n > 1 AND a + b > 0 AND c + d > 0 THEN
      CAST(round(1e6 * (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
           * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
           * CAST(n - 1 AS DOUBLE)))) AS BIGINT)
      ELSE CAST(0 AS BIGINT) END AS v_micro
  FROM cells
),
agg AS (
  SELECT CAST(sum(counted) AS BIGINT) AS n_strata,
         CAST(sum(r_micro) AS BIGINT) AS sum_r_micro,
         CAST(sum(s_micro) AS BIGINT) AS sum_s_micro,
         CAST(sum(oe_micro) AS BIGINT) AS sum_oe_micro,
         CAST(sum(v_micro) AS BIGINT) AS sum_v_micro
  FROM contrib
)
SELECT n_strata, sum_r_micro, sum_s_micro,
       CASE WHEN sum_s_micro > 0 THEN
         round(CAST(sum_r_micro AS DOUBLE)
               / CAST(sum_s_micro AS DOUBLE), 6) END AS or_mh,
       sum_oe_micro, sum_v_micro,
       CASE WHEN sum_v_micro > 0 THEN round({z}, 6) END AS z,
       CASE WHEN sum_v_micro > 0 THEN {p_two_sided_ppm_sql(z)} END
         AS p_ppm
FROM agg
"""


_Q291_SQL = _q291_sql()


def q292_vocab_chao1(spark, sf_dir):
    """Chao1 unseen-vocabulary estimate + Good-Turing coverage per
    source (operators/corpus_stats.chao_richness — Chao 1984 bias-
    corrected; Good 1953): turns the f1/f2 census q264 already emits
    into an estimator of how many word types the crawl has NOT seen —
    the lexical twin of q217's per-host frontier exhaustion (same
    Good-Turing logic, words instead of page templates); a source
    whose chao1_est ~ n_types is lexically exhausted.
    (grp, n_toks, n_types, f1, f2, chao1_est, unseen_types, p0_ppm,
    coverage_ppm)."""
    from eget_spark.operators.corpus_stats import chao_richness

    return chao_richness(_t(spark, sf_dir, "documents"), "source", "text")


_Q292_SQL = r"""
WITH toks AS (
  SELECT source AS grp,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), t -> t <> '')) AS tok
  FROM documents
),
gt AS (
  SELECT grp, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY grp, tok
),
per AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_toks,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM gt GROUP BY grp
)
SELECT grp, n_toks, n_types, f1, f2,
       n_types + CAST(round(CAST(f1 * (f1 - 1) AS DOUBLE)
                 / CAST(2 * (f2 + 1) AS DOUBLE)) AS BIGINT) AS chao1_est,
       CAST(round(CAST(f1 * (f1 - 1) AS DOUBLE)
            / CAST(2 * (f2 + 1) AS DOUBLE)) AS BIGINT) AS unseen_types,
       CAST(f1 * 1000000 // n_toks AS BIGINT) AS p0_ppm,
       CAST(1000000 - f1 * 1000000 // n_toks AS BIGINT) AS coverage_ppm
FROM per ORDER BY grp
"""


# Pinned q293 ledger: three host tiers on the q254 latency clock with a
# +4 ms/tier location shift — a k-sample difference KW must find.
_Q293_VALUE = "100 + (doc_id * 2654435761) % 21 + 4 * (doc_id % 3)"


def q293_tier_kruskal(spark, sf_dir):
    """Kruskal-Wallis k-sample rank test across three host tiers
    (operators/drift.kruskal_wallis — Kruskal & Wallis JASA 1952,
    tie-corrected): do the tiers share one latency distribution?  The
    one-way-ANOVA-on-ranks extension of q287's two-sample MWU; k=3 is
    pinned at plan time, so H is ONE pinned expression over the three
    doubled rank sums and the df=2 chi-square p uses the exact
    closed form exp(-H/2) — no approximation anywhere.
    (nn, t3t, m_1..m_3, r_1..r_3, h, p_ppm)."""
    from eget_spark.operators.drift import kruskal_wallis

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(
        F.expr("concat('t', CAST(doc_id % 3 AS STRING))").alias("tier"),
        F.expr(_Q293_VALUE).cast("long").alias("value"),
    )
    return kruskal_wallis(ledger, "tier", "value", ["t0", "t1", "t2"])


def _q293_sql() -> str:
    from eget_spark.operators.drift import kw_h_sql, kw_p_sql

    h = kw_h_sql(3)
    p = kw_p_sql(h, 2)
    return rf"""
WITH ledger AS (
  SELECT concat('t', CAST(doc_id % 3 AS VARCHAR)) AS tier,
         CAST({_Q293_VALUE} AS BIGINT) AS value
  FROM documents
),
tagged AS (
  SELECT value,
         CASE WHEN tier = 't0' THEN 1 ELSE 0 END AS g_1,
         CASE WHEN tier = 't1' THEN 1 ELSE 0 END AS g_2,
         CASE WHEN tier = 't2' THEN 1 ELSE 0 END AS g_3
  FROM ledger
),
seq AS (
  SELECT value, g_1, g_2, g_3,
         row_number() OVER (ORDER BY value) AS r
  FROM tagged
),
per_v AS (
  SELECT value, CAST(min(r) AS BIGINT) AS rmin,
         CAST(count(*) AS BIGINT) AS ties,
         CAST(sum(g_1) AS BIGINT) AS c_1,
         CAST(sum(g_2) AS BIGINT) AS c_2,
         CAST(sum(g_3) AS BIGINT) AS c_3
  FROM seq GROUP BY value
),
agg AS (
  SELECT CAST(sum(ties) AS BIGINT) AS nn,
         CAST(sum(ties * ties * ties - ties) AS BIGINT) AS t3t,
         CAST(sum(c_1) AS BIGINT) AS m_1,
         CAST(sum(c_2) AS BIGINT) AS m_2,
         CAST(sum(c_3) AS BIGINT) AS m_3,
         CAST(sum(c_1 * (2 * rmin + ties - 1)) AS BIGINT) AS r_1,
         CAST(sum(c_2 * (2 * rmin + ties - 1)) AS BIGINT) AS r_2,
         CAST(sum(c_3 * (2 * rmin + ties - 1)) AS BIGINT) AS r_3
  FROM per_v
)
SELECT nn, t3t, m_1, m_2, m_3, r_1, r_2, r_3,
       CASE WHEN nn > 1 AND t3t < nn * nn * nn - nn
            THEN round({h}, 6) END AS h,
       CASE WHEN nn > 1 AND t3t < nn * nn * nn - nn
            THEN {p} END AS p_ppm
FROM agg
"""


_Q293_SQL = _q293_sql()


# Pinned q294 scored ledger: q252's score hash, but the label accuracy
# ladder DIPS at bins 6-7 (60% -> 50% -> 40%) — the non-monotone
# violation PAV exists to pool away.
_Q294_SCORE = "(doc_id * 2654435761) % 1000001"
_Q294_LABEL = (
    "CAST(CASE WHEN (doc_id * 1103515245 + 12345) % 100 < "
    "(CASE CAST(least(((doc_id * 2654435761) % 1000001) * 10"
    " DIV 1000000, 9) AS INT) "
    "WHEN 0 THEN 5 WHEN 1 THEN 10 WHEN 2 THEN 20 WHEN 3 THEN 30 "
    "WHEN 4 THEN 45 WHEN 5 THEN 60 WHEN 6 THEN 50 WHEN 7 THEN 40 "
    "WHEN 8 THEN 80 ELSE 95 END) THEN 1 ELSE 0 END AS BIGINT)"
)


def q294_isotonic_recal(spark, sf_dir):
    """Isotonic (PAV) recalibration of binned classifier scores
    (operators/calibration.isotonic_fit — Ayer et al. 1955 min-max
    closed form, provably equal to the pool-adjacent-violators sweep,
    pinned by test against the classical stack algorithm): a scored
    ledger whose empirical accuracy DIPS mid-range is pooled into the
    closest monotone probability curve — the FIX companion to q252's
    calibration audit and q280's threshold sweep; the corpus collapses
    to the 10-row bin table before any pairwise work (M^3 = 1000 rows,
    broadcast-class).  (bin, n, pos, raw_ppm, fit_ppm)."""
    from eget_spark.operators.calibration import isotonic_fit

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.expr(_Q294_SCORE).alias("score_ppm"),
        F.expr(_Q294_LABEL).alias("label"),
    )
    return isotonic_fit(scored, "score_ppm", "label", n_bins=10)


def _q294_sql() -> str:
    return rf"""
WITH scored AS (
  SELECT CAST({_Q294_SCORE} AS BIGINT) AS s,
         {_Q294_LABEL.replace("DIV", "//")} AS y
  FROM documents
),
binned AS (
  SELECT least(s * 10 // 1000000, 9) AS bin, y FROM scored
),
bins AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS pos
  FROM binned GROUP BY bin
),
cum AS (
  SELECT bin, n, pos,
         CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum,
         CAST(sum(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS p_cum
  FROM bins
),
pairs AS (
  SELECT j.bin AS bin_j, k.bin AS bin_k,
         CAST(k.p_cum - (j.p_cum - j.pos) AS DOUBLE)
           / CAST(k.n_cum - (j.n_cum - j.n) AS DOUBLE) AS avg
  FROM cum j JOIN cum k ON j.bin <= k.bin
),
inner_min AS (
  SELECT i.bin AS bin_i, p.bin_j, min(p.avg) AS m
  FROM pairs p JOIN cum i
    ON p.bin_j <= i.bin AND i.bin <= p.bin_k
  GROUP BY i.bin, p.bin_j
),
fit AS (SELECT bin_i, max(m) AS fit FROM inner_min GROUP BY bin_i)
SELECT c.bin, c.n, c.pos,
       CAST(c.pos * 1000000 // c.n AS BIGINT) AS raw_ppm,
       CAST(round(1e6 * f.fit) AS BIGINT) AS fit_ppm
FROM cum c JOIN fit f ON c.bin = f.bin_i
ORDER BY c.bin
"""


_Q294_SQL = _q294_sql()


def q295_brier_decomp(spark, sf_dir):
    """Murphy (1973) Brier-score decomposition over forecast bins
    (operators/calibration.brier_decomposition): BRIER = RELIABILITY -
    RESOLUTION + UNCERTAINTY (+ emitted within-bin residual) on q252's
    roughly-calibrated scored ledger — reliability is the squared,
    mass-weighted version of q252's gaps; resolution says whether the
    classifier SORTS documents at all (calibrated-but-useless scores
    have both ~0); every squared term micro-truncated before the sums
    so totals are exact int64 to ~9e12 rows.
    (n, base_ppm, brier_micro, rel_micro, res_micro, unc_micro,
    resid_micro)."""
    from eget_spark.operators.calibration import brier_decomposition

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.expr("(doc_id * 2654435761) % 1000001").alias("score_ppm"),
        F.expr(
            "CAST(CASE WHEN (doc_id * 1103515245 + 12345) % 1000000"
            "  < (doc_id * 2654435761) % 1000001 THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("label"),
    )
    return brier_decomposition(scored, "score_ppm", "label", n_bins=10)


_Q295_SQL = r"""
WITH scored AS (
  SELECT CAST((doc_id * 2654435761) % 1000001 AS BIGINT) AS s,
         CAST(CASE WHEN (doc_id * 1103515245 + 12345) % 1000000
              < (doc_id * 2654435761) % 1000001 THEN 1 ELSE 0 END
              AS BIGINT) AS y
  FROM documents
),
binned AS (
  SELECT least(s * 10 // 1000000, 9) AS bin, s, y FROM scored
),
bins AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_m,
         CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(s) AS BIGINT) AS s_sum,
         CAST(sum((s - y * 1000000) * (s - y * 1000000) // 1000000)
              AS BIGINT) AS sq_sum
  FROM binned GROUP BY bin
),
terms AS (
  SELECT n_m, pos, sq_sum,
         CAST(s_sum // n_m AS BIGINT) AS conf_ppm,
         CAST(pos * 1000000 // n_m AS BIGINT) AS acc_ppm
  FROM bins
),
base AS (
  SELECT CAST(sum(pos) * 1000000 // sum(n_m) AS BIGINT) AS base_ppm
  FROM terms
),
agg AS (
  SELECT CAST(sum(n_m) AS BIGINT) AS n,
         CAST(sum(sq_sum) AS BIGINT) AS brier_num,
         CAST(sum(n_m * ((conf_ppm - acc_ppm) * (conf_ppm - acc_ppm)
              // 1000000)) AS BIGINT) AS rel_num
  FROM terms
),
res AS (
  SELECT CAST(sum(n_m * ((acc_ppm - base_ppm) * (acc_ppm - base_ppm)
              // 1000000)) AS BIGINT) AS res_num
  FROM terms CROSS JOIN base
),
fin AS (
  SELECT n, base_ppm,
         CAST(brier_num // n AS BIGINT) AS brier_micro,
         CAST(rel_num // n AS BIGINT) AS rel_micro,
         CAST(res_num // n AS BIGINT) AS res_micro,
         CAST(base_ppm * (1000000 - base_ppm) // 1000000 AS BIGINT)
           AS unc_micro
  FROM agg CROSS JOIN base CROSS JOIN res
)
SELECT n, base_ppm, brier_micro, rel_micro, res_micro, unc_micro,
       CAST(brier_micro - (rel_micro - res_micro + unc_micro)
            AS BIGINT) AS resid_micro
FROM fin
"""


def q296_title_editdist(spark, sf_dir):
    """Blocked Levenshtein near-duplicate titles
    (operators/editdist.editdist_near_dups — Fellegi-Sunter record
    linkage; Gravano VLDB 2001 blocking shape): 16-char title prefixes
    compared exactly within (4-char-prefix, length-band) blocks, pairs
    within 4 edits — the STRING-level near-dup the bag sketches
    (q13-q16) can miss (one typo in a short title is Jaccard-far but
    edit-close); both engines run the identical built-in unit-cost
    Levenshtein DP, capped per block so degenerate blocks cost cap^2/2.
    (id_a, id_b, dist)."""
    from eget_spark.operators.editdist import editdist_near_dups

    docs = _t(spark, sf_dir, "documents")
    titles = docs.select(
        "doc_id", F.expr("substring(text, 1, 16)").alias("title")
    )
    return editdist_near_dups(
        titles, "doc_id", "title", max_dist=4, prefix_len=4,
        len_band=8, cap=256,
    )


_Q296_SQL = r"""
WITH t AS (
  SELECT doc_id, substr(text, 1, 16) AS ttl FROM documents
),
b AS (
  SELECT doc_id, ttl,
         concat(substr(ttl, 1, 4), '|',
                CAST(length(ttl) // 8 AS VARCHAR)) AS blk
  FROM t WHERE ttl IS NOT NULL
),
capped AS (
  SELECT doc_id, ttl, blk,
         row_number() OVER (PARTITION BY blk ORDER BY ttl, doc_id)
           AS rn
  FROM b
)
SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       CAST(levenshtein(a.ttl, c.ttl) AS BIGINT) AS dist
FROM capped a JOIN capped c
  ON a.blk = c.blk AND a.doc_id < c.doc_id
WHERE a.rn <= 256 AND c.rn <= 256
  AND levenshtein(a.ttl, c.ttl) <= 4
ORDER BY id_a, id_b
"""


# Pinned q297 nonconformity score; every 10th doc is the "new batch",
# and every 20th is shifted beyond the reference support (truly novel).
_Q297_SCORE = "100 + (doc_id * 2654435761) % 50"
_Q297_BATCH_SCORE = (
    f"{_Q297_SCORE} + CASE WHEN doc_id % 20 = 0 THEN 45 ELSE 0 END"
)


def q297_conformal_novelty(spark, sf_dir):
    """Conformal novelty p-values for newly crawled documents
    (operators/conformal.conformal_pvalues — Vovk/Gammerman/Shafer
    2005): p = (1 + #{ref >= s}) / (n_ref + 1), exact int64 — a
    distribution-free novelty gate with the finite-sample guarantee
    P(p <= alpha) <= alpha under exchangeability, no modeling
    assumptions; the reference collapses to its distinct-score
    interval table and the batch probes it through the q104 bucketed
    range lookup (no inequality join against the corpus).  Half the
    pinned batch is shifted beyond the reference support and flags at
    the minimal p.  (id, score, cnt_ge, p_ppm, novel)."""
    from eget_spark.operators.conformal import conformal_pvalues

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where("doc_id % 10 <> 0").select(
        F.expr(_Q297_SCORE).cast("long").alias("score")
    )
    batch = docs.where("doc_id % 10 = 0").select(
        "doc_id",
        F.expr(_Q297_BATCH_SCORE).cast("long").alias("score"),
    )
    return conformal_pvalues(
        ref, batch, "doc_id", "score", min_score=0, alpha_ppm=50_000
    )


_Q297_SQL = rf"""
WITH ref AS (
  SELECT CAST({_Q297_SCORE} AS BIGINT) AS s
  FROM documents WHERE doc_id % 10 <> 0
),
bat AS (
  SELECT doc_id AS id, CAST({_Q297_BATCH_SCORE} AS BIGINT) AS score
  FROM documents WHERE doc_id % 10 = 0
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_ref FROM ref),
cnts AS (
  SELECT b.id, b.score, CAST(count(r.s) AS BIGINT) AS cnt_ge
  FROM bat b LEFT JOIN ref r ON r.s >= b.score
  GROUP BY b.id, b.score
)
SELECT id, score, cnt_ge,
       CAST((1 + cnt_ge) * 1000000 // (n_ref + 1) AS BIGINT) AS p_ppm,
       (1 + cnt_ge) * 1000000 // (n_ref + 1) <= 50000 AS novel
FROM cnts CROSS JOIN n ORDER BY id
"""


# Pinned q298 Poisson design: four sources oversampled at 20%, the
# rest at 2% — the unequal-probability QA-sample HT was built for.
_Q298_PI = (
    "CASE WHEN source IN ('src0','src1','src2','src3')"
    " THEN 200000 ELSE 20000 END"
)


def q298_ht_corpus_total(spark, sf_dir):
    """Horvitz-Thompson corpus-total estimation from a hash-Poisson QA
    sample (operators/sampling.ht_estimate — Horvitz & Thompson JASA
    1952): only the sampled rows and their inclusion probabilities are
    seen, yet the expansion estimates the FULL corpus n_chars total
    unbiasedly with an honest SE — how a 2% sample answers "how many
    tokens does the whole crawl hold"; the design-based sibling of
    q144's capture-recapture and q292's Chao1.
    (n_sample, sample_total, ht_total, var_sum, se)."""
    from eget_spark.operators.sampling import ht_estimate

    docs = _t(spark, sf_dir, "documents")
    sample = docs.where(
        F.expr(f"(doc_id * 1099087573) % 1000000 < {_Q298_PI}")
    ).select(
        F.col("n_chars").cast("long").alias("y"),
        F.expr(_Q298_PI).cast("long").alias("pi_ppm"),
    )
    return ht_estimate(sample, "y", "pi_ppm")


_Q298_SQL = rf"""
WITH sample AS (
  SELECT CAST(n_chars AS BIGINT) AS y,
         CAST({_Q298_PI} AS BIGINT) AS pi
  FROM documents
  WHERE (doc_id * 1099087573) % 1000000 < {_Q298_PI}
),
terms AS (
  SELECT y, pi, y * CAST(1000000 AS BIGINT) // pi AS w
  FROM sample WHERE pi > 0 AND pi <= 1000000
)
SELECT CAST(count(*) AS BIGINT) AS n_sample,
       CAST(sum(y) AS BIGINT) AS sample_total,
       CAST(sum(w) AS BIGINT) AS ht_total,
       CAST(sum(w * (1000000 - pi) // 1000000 * w) AS BIGINT) AS var_sum,
       CAST(round(sqrt(CAST(sum(w * (1000000 - pi) // 1000000 * w)
            AS DOUBLE))) AS BIGINT) AS se
FROM terms
"""


# Pinned q299 latency law: base 100-130 ms; every 20th fetch draws an
# alpha=3 Pareto spike (xi = 1/3 — inside PWM's validity range).
_Q299_VALUE = (
    "100 + (doc_id * 2654435761) % 30 + CASE WHEN (doc_id * 13) % 20 = 0"
    " THEN CAST(round(60 * exp(ln(1000000.0"
    " / (1 + (doc_id * 48271) % 1000000)) / 3)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def q299_latency_gpd(spark, sf_dir):
    """PWM-GPD extreme-value tail fit of fetch latency
    (operators/evt.gpd_tail_fit — Pickands-Balkema-de Haan; Hosking &
    Wallis 1987 closed-form probability-weighted moments, no
    optimizer): exceedances over 150 ms fit a Generalized Pareto and
    extrapolate the 1-in-a-million return level BEYOND the sample —
    the tail-risk companion to q274's Hill index (which only fits the
    exponent) and q108's empirical quantiles (which cannot leave the
    data); exact rank-weighted integer moments, one pinned IEEE chain,
    pow via the exp/ln family.
    (n_total, n_exceed, threshold, b0_sum, a1_num, xi, sigma,
    return_level)."""
    from eget_spark.operators.evt import gpd_tail_fit

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(F.expr(_Q299_VALUE).cast("long").alias("lat"))
    return gpd_tail_fit(ledger, "lat", 150, return_period=1_000_000)


def _q299_sql() -> str:
    n = "CAST(n_exceed AS DOUBLE)"
    b0 = f"(CAST(b0_sum AS DOUBLE) / {n})"
    b1 = (
        f"(CAST(a1_num AS DOUBLE)"
        f" / ({n} * CAST(n_exceed - 1 AS DOUBLE)))"
    )
    den = f"({b0} - 2.0 * {b1})"
    xi = f"(2.0 - {b0} / {den})"
    sigma = f"(2.0 * {b0} * {b1} / {den})"
    zeta = "(CAST(n_exceed AS DOUBLE) / CAST(n_total AS DOUBLE))"
    growth = f"(exp({xi} * ln(1000000.0 * {zeta})) - 1.0)"
    rl = f"(150.0 + ({sigma} / {xi}) * {growth})"
    ok = "n_exceed > 1 AND b0_sum * (n_exceed - 1) <> 2 * a1_num"
    ok_rl = f"{ok} AND {xi} <> 0.0 AND 1000000.0 * {zeta} > 0.0"
    return rf"""
WITH vals AS (
  SELECT CAST({_Q299_VALUE} AS BIGINT) AS x FROM documents
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM vals),
exc AS (SELECT x - 150 AS e FROM vals WHERE x > 150),
seq AS (
  SELECT e, CAST(row_number() OVER (ORDER BY e) AS BIGINT) AS i
  FROM exc
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_exceed,
         CAST(sum(e) AS BIGINT) AS b0_sum,
         CAST(sum(i * e) AS BIGINT) AS ri_sum
  FROM seq
),
fin AS (
  SELECT n_exceed, b0_sum,
         CAST(n_exceed * b0_sum - ri_sum AS BIGINT) AS a1_num
  FROM agg
)
SELECT n_total, n_exceed, CAST(150 AS BIGINT) AS threshold,
       b0_sum, a1_num,
       CASE WHEN {ok} THEN round({xi}, 6) END AS xi,
       CASE WHEN {ok} THEN round({sigma}, 6) END AS sigma,
       CASE WHEN {ok_rl} THEN CAST(round({rl}) AS BIGINT) END
         AS return_level
FROM fin CROSS JOIN tot
"""


_Q299_SQL = _q299_sql()


def q300_fdr_hosts_by(spark, sf_dir):
    """Benjamini-Yekutieli dependence-robust host screening
    (operators/fdr.host_failure_fdr_by — Benjamini & Yekutieli AoS
    2001): the q285 ledger re-screened under the harmonic-number
    budget shrink, valid under ARBITRARY dependence between the host
    tests (hosts share datacenters and fleet-wide incidents — BH's
    independence assumption is exactly what a crawl fleet violates);
    the decision is pure int64 with H_m evaluated as an identical
    ascending fold in both engines.  BY discoveries are provably a
    subset of q285's BH discoveries.
    (key, n, fails, z, p_ppm, rnk, discovery)."""
    from eget_spark.operators.fdr import host_failure_fdr_by

    docs = _t(spark, sf_dir, "documents")
    ledger = docs.select(
        F.expr("concat('h', CAST(doc_id % 40 AS STRING))").alias("host"),
        F.expr(_Q285_FAIL).alias("fail"),
    )
    return host_failure_fdr_by(
        ledger, "host", "fail", p0_ppm=30_000, alpha_ppm=50_000
    )


def _q300_sql() -> str:
    from eget_spark.operators.fdr import failure_z_sql, phi_upper_ppm_sql

    z = failure_z_sql("n", "fails", 30_000)
    h_micro = (
        "CAST(round(1e6 * list_reduce("
        "list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(generate_series(1, CAST(m AS INT)), "
        "j -> 1.0 / CAST(j AS DOUBLE))), "
        "(acc, x) -> acc + x)) AS BIGINT)"
    )
    return rf"""
WITH ledger AS (
  SELECT concat('h', CAST(doc_id % 40 AS VARCHAR)) AS host,
         {_Q285_FAIL} AS fail
  FROM documents
),
per AS (
  SELECT host AS key, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(fail) AS BIGINT) AS fails
  FROM ledger GROUP BY host
),
scored AS (
  SELECT key, n, fails,
         round({z}, 6) AS z,
         {phi_upper_ppm_sql(z)} AS p_ppm
  FROM per
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY p_ppm, key) AS BIGINT) AS rnk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM scored
),
harm AS (
  SELECT *, {h_micro} AS h_micro FROM ranked
),
cut AS (
  SELECT *,
         max(CASE WHEN p_ppm * m * h_micro
                       <= rnk * 50000 * CAST(1000000 AS BIGINT)
                  THEN rnk ELSE 0 END) OVER () AS k
  FROM harm
)
SELECT key, n, fails, z, p_ppm, rnk, rnk <= k AS discovery
FROM cut ORDER BY rnk
"""


_Q300_SQL = _q300_sql()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q01_crawl_bfs(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_crawl_bfs": q01_crawl_bfs,
        "q02_url_normalize": q02_url_normalize,
        "q03_host_counts": q03_host_counts,
        "q04_link_filter": q04_link_filter,
        "q05_robots_gate": q05_robots_gate,
        "q06_cache_key": q06_cache_key,
        "q07_crawl_stats": q07_crawl_stats,
        "q08_span_assembly": q08_span_assembly,
        "q09_text_metrics": q09_text_metrics,
        "q10_lang_id": q10_lang_id,
        "q11_quality": q11_quality,
        "q12_dedup_exact": q12_dedup_exact,
        "q13_minhash_sig": q13_minhash_sig,
        "q14_minhash_lsh_pairs": q14_minhash_lsh_pairs,
        "q15_ngram_jaccard": q15_ngram_jaccard,
        "q16_simhash": q16_simhash,
        "q17_sim_topk": q17_sim_topk,
        "q18_ivf_topk": q18_ivf_topk,
        "q19_near_dup_cosine": q19_near_dup_cosine,
        "q20_fingerprint": q20_fingerprint,
        "q21_sessions": q21_sessions,
        "q22_semantic_chunks": q22_semantic_chunks,
        "q23_sentence_chunks": q23_sentence_chunks,
        "q24_source_counts": q24_source_counts,
        "q25_topk_per_lang": q25_topk_per_lang,
        "q26_metadata_extract": q26_metadata_extract,
        "q27_pdf_heuristics": q27_pdf_heuristics,
        "q28_clean_markdown": q28_clean_markdown,
        "q29_bloom_seen": q29_bloom_seen,
        "q30_span_kind_counts": q30_span_kind_counts,
        "q31_simhash_pairs": q31_simhash_pairs,
        "q32_metadata_full": q32_metadata_full,
        "q33_json_ld": q33_json_ld,
        "q34_renamed_metadata_spans": q34_renamed_metadata_spans,
        "q35_robots_wildcard": q35_robots_wildcard,
        "q36_politeness_budget": q36_politeness_budget,
        "q37_dedup_groups": q37_dedup_groups,
        "q38_media_decode": q38_media_decode,
        "q39_stopword_ratio": q39_stopword_ratio,
        "q40_pagerank": q40_pagerank,
        "q41_indegree_hist": q41_indegree_hist,
        "q42_char_entropy": q42_char_entropy,
        "q43_tfidf_topk": q43_tfidf_topk,
        "q44_cuckoo_seen": q44_cuckoo_seen,
        "q45_srp_lsh_pairs": q45_srp_lsh_pairs,
        "q46_priority_schedule": q46_priority_schedule,
        "q47_stratified_sample": q47_stratified_sample,
        "q48_anchor_stats": q48_anchor_stats,
        "q49_docx_convert": q49_docx_convert,
        "q50_ttl_recrawl": q50_ttl_recrawl,
        "q51_xlsx_convert": q51_xlsx_convert,
        "q52_png_decode": q52_png_decode,
        "q53_contamination": q53_contamination,
        "q54_proportional_mix": q54_proportional_mix,
        "q55_trap_scores": q55_trap_scores,
        "q56_pdf_objstm_convert": q56_pdf_objstm_convert,
        "q57_repetition_quality": q57_repetition_quality,
        "q58_line_dedup": q58_line_dedup,
        "q59_pii_scrub": q59_pii_scrub,
        "q60_pdf_cid_convert": q60_pdf_cid_convert,
        "q61_pdf_lzw_convert": q61_pdf_lzw_convert,
        "q62_image_near_dup": q62_image_near_dup,
        "q63_image_dedup_groups": q63_image_dedup_groups,
        "q64_passage_dedup": q64_passage_dedup,
        "q65_gopher_filters": q65_gopher_filters,
        "q66_unigram_lm_score": q66_unigram_lm_score,
        "q67_semantic_dedup": q67_semantic_dedup,
        "q68_token_budget_sample": q68_token_budget_sample,
        "q69_top_trigram_coverage": q69_top_trigram_coverage,
        "q70_dup_ngram_cover": q70_dup_ngram_cover,
        "q71_curation_profile": q71_curation_profile,
        "q72_blocklist_flags": q72_blocklist_flags,
        "q73_dedup_cluster_histogram": q73_dedup_cluster_histogram,
        "q74_bm25_topk": q74_bm25_topk,
        "q75_bigram_lm_score": q75_bigram_lm_score,
        "q76_recrawl_priority": q76_recrawl_priority,
        "q77_hll_distinct": q77_hll_distinct,
        "q78_kmeans_cells": q78_kmeans_cells,
        "q79_warc_roundtrip": q79_warc_roundtrip,
        "q80_sitemap_parse": q80_sitemap_parse,
        "q81_robots_parse": q81_robots_parse,
        "q82_snapshot_diff": q82_snapshot_diff,
        "q83_sequence_packing": q83_sequence_packing,
        "q84_hits": q84_hits,
        "q85_redirect_chains": q85_redirect_chains,
        "q86_cms_host_counts": q86_cms_host_counts,
        "q87_feed_parse": q87_feed_parse,
        "q88_content_sniff": q88_content_sniff,
        "q89_audio_features": q89_audio_features,
        "q90_video_frame_sample": q90_video_frame_sample,
        "q91_containment_pairs": q91_containment_pairs,
        "q92_canonical_collapse": q92_canonical_collapse,
        "q93_pq_codes": q93_pq_codes,
        "q94_phrase_search": q94_phrase_search,
        "q95_soft404_flags": q95_soft404_flags,
        "q96_charset_sniff": q96_charset_sniff,
        "q97_revalidate": q97_revalidate,
        "q98_snapshot_retention": q98_snapshot_retention,
        "q99_normalized_dedup": q99_normalized_dedup,
        "q100_registrable_domain": q100_registrable_domain,
        "q101_adaptive_delays": q101_adaptive_delays,
        "q102_palette_png_decode": q102_palette_png_decode,
        "q103_asof_robots": q103_asof_robots,
        "q104_range_lookup": q104_range_lookup,
        "q105_rollup_merge": q105_rollup_merge,
        "q106_kmv_estimate": q106_kmv_estimate,
        "q107_kmv_setops": q107_kmv_setops,
        "q108_exact_quantiles": q108_exact_quantiles,
        "q109_path_rollup": q109_path_rollup,
        "q110_interval_overlap": q110_interval_overlap,
        "q111_oov_rate": q111_oov_rate,
        "q112_lang_confusion": q112_lang_confusion,
        "q113_allpairs_cosine": q113_allpairs_cosine,
        "q114_host_templates": q114_host_templates,
        "q115_strip_boilerplate": q115_strip_boilerplate,
        "q116_rate_anomalies": q116_rate_anomalies,
        "q117_lsh_recall": q117_lsh_recall,
        "q118_crawl_cube": q118_crawl_cube,
        "q119_vocab_growth": q119_vocab_growth,
        "q120_incremental_lsh": q120_incremental_lsh,
        "q121_best_representatives": q121_best_representatives,
        "q122_source_weighted_sample": q122_source_weighted_sample,
        "q123_group_split": q123_group_split,
        "q124_readability": q124_readability,
        "q125_bpe_pairs": q125_bpe_pairs,
        "q126_domain_quality": q126_domain_quality,
        "q127_ivf_pq_search": q127_ivf_pq_search,
        "q128_adaptive_quality": q128_adaptive_quality,
        "q129_meta_robots": q129_meta_robots,
        "q130_split_leakage": q130_split_leakage,
        "q131_circuit_breaker": q131_circuit_breaker,
        "q132_pptx_convert": q132_pptx_convert,
        "q133_sitemap_stale": q133_sitemap_stale,
        "q134_hreflang_clusters": q134_hreflang_clusters,
        "q135_mixture_report": q135_mixture_report,
        "q136_bpe_stats": q136_bpe_stats,
        "q137_trained_ivf": q137_trained_ivf,
        "q138_trustrank": q138_trustrank,
        "q139_budget_apportion": q139_budget_apportion,
        "q140_mirror_hosts": q140_mirror_hosts,
        "q141_balanced_shards": q141_balanced_shards,
        "q142_focused_priorities": q142_focused_priorities,
        "q143_ngram_novelty": q143_ngram_novelty,
        "q144_site_size_estimate": q144_site_size_estimate,
        "q145_sitemap_coverage": q145_sitemap_coverage,
        "q146_link_reciprocity": q146_link_reciprocity,
        "q147_jaccard_histogram": q147_jaccard_histogram,
        "q148_ewma_rates": q148_ewma_rates,
        "q149_length_trim": q149_length_trim,
        "q150_quality_classifier": q150_quality_classifier,
        "q151_surt_keys": q151_surt_keys,
        "q152_param_relevance": q152_param_relevance,
        "q153_fetch_fairness": q153_fetch_fairness,
        "q154_scalar_quantize": q154_scalar_quantize,
        "q155_media_density": q155_media_density,
        "q156_caption_pairs": q156_caption_pairs,
        "q157_renumber_spans": q157_renumber_spans,
        "q158_media_audit": q158_media_audit,
        "q159_makespan": q159_makespan,
        "q160_cache_ttl": q160_cache_ttl,
        "q161_retry_backoff": q161_retry_backoff,
        "q162_table_cells": q162_table_cells,
        "q163_mixture_weights": q163_mixture_weights,
        "q164_token_windows": q164_token_windows,
        "q165_keywords": q165_keywords,
        "q166_indexability": q166_indexability,
        "q167_embedding_outliers": q167_embedding_outliers,
        "q168_multimodal_packing": q168_multimodal_packing,
        "q169_ann_recall": q169_ann_recall,
        "q170_scheme_dupes": q170_scheme_dupes,
        "q171_compressibility": q171_compressibility,
        "q172_ppjoin": q172_ppjoin,
        "q173_opic": q173_opic,
        "q174_fetcher_assign": q174_fetcher_assign,
        "q175_fetch_timeline": q175_fetch_timeline,
        "q176_path_traps": q176_path_traps,
        "q177_host_rank": q177_host_rank,
        "q178_dust_rules": q178_dust_rules,
        "q179_script_profile": q179_script_profile,
        "q180_fleet_load": q180_fleet_load,
        "q181_canonical_chain": q181_canonical_chain,
        "q182_link_diversity": q182_link_diversity,
        "q183_subdomain_farms": q183_subdomain_farms,
        "q184_implied_delays": q184_implied_delays,
        "q185_cdx_index": q185_cdx_index,
        "q186_revisit_dedup": q186_revisit_dedup,
        "q187_poisson_rate": q187_poisson_rate,
        "q188_triangles": q188_triangles,
        "q189_zipnum_blocks": q189_zipnum_blocks,
        "q190_refresh_value": q190_refresh_value,
        "q191_heaps_fit": q191_heaps_fit,
        "q192_coreness": q192_coreness,
        "q193_hyperball": q193_hyperball,
        "q194_cdc_chunks": q194_cdc_chunks,
        "q195_cdc_dedup_stats": q195_cdc_dedup_stats,
        "q196_zipf_fit": q196_zipf_fit,
        "q197_bowtie": q197_bowtie,
        "q198_posting_layout": q198_posting_layout,
        "q199_revisit_ledger": q199_revisit_ledger,
        "q200_lpa_communities": q200_lpa_communities,
        "q201_bm25f": q201_bm25f,
        "q202_modularity": q202_modularity,
        "q203_neighborhood_function": q203_neighborhood_function,
        "q204_sitemap_shards": q204_sitemap_shards,
        "q205_community_fetcher_shards": q205_community_fetcher_shards,
        "q206_assortativity": q206_assortativity,
        "q207_gif_decode": q207_gif_decode,
        "q208_rrf_fusion": q208_rrf_fusion,
        "q209_typosquats": q209_typosquats,
        "q210_spam_mass": q210_spam_mass,
        "q211_capacity_plan": q211_capacity_plan,
        "q212_katz": q212_katz,
        "q213_salsa": q213_salsa,
        "q214_ring_assign": q214_ring_assign,
        "q215_anchor_bm25": q215_anchor_bm25,
        "q216_ql_dirichlet": q216_ql_dirichlet,
        "q217_frontier_exhaustion": q217_frontier_exhaustion,
        "q218_winnow_fingerprints": q218_winnow_fingerprints,
        "q219_winnow_pairs": q219_winnow_pairs,
        "q220_ef_postings": q220_ef_postings,
        "q221_image_dims": q221_image_dims,
        "q222_dsir_weights": q222_dsir_weights,
        "q223_cocitation": q223_cocitation,
        "q224_unimax_mix": q224_unimax_mix,
        "q225_image_dims_ext": q225_image_dims_ext,
        "q226_kneser_ney": q226_kneser_ney,
        "q227_rm3_expansion": q227_rm3_expansion,
        "q228_rm3_topk": q228_rm3_topk,
        "q229_moore_lewis": q229_moore_lewis,
        "q230_witten_bell": q230_witten_bell,
        "q231_ccnet_tertiles": q231_ccnet_tertiles,
        "q232_rocchio": q232_rocchio,
        "q233_sdm": q233_sdm,
        "q234_mmr": q234_mmr,
        "q235_ktruss": q235_ktruss,
        "q236_components": q236_components,
        "q237_link_prediction": q237_link_prediction,
        "q238_zipf": q238_zipf,
        "q239_heaps": q239_heaps,
        "q240_textrank": q240_textrank,
        "q241_rake": q241_rake,
        "q242_simrank": q242_simrank,
        "q243_refresh_policies": q243_refresh_policies,
        "q244_diversity": q244_diversity,
        "q245_weighted_sample": q245_weighted_sample,
        "q246_spotsigs": q246_spotsigs,
        "q247_wl_colors": q247_wl_colors,
        "q248_collocations": q248_collocations,
        "q249_source_divergence": q249_source_divergence,
        "q250_bradley_terry": q250_bradley_terry,
        "q251_ucb_schedule": q251_ucb_schedule,
        "q252_calibration": q252_calibration,
        "q253_rater_agreement": q253_rater_agreement,
        "q254_latency_drift": q254_latency_drift,
        "q255_benford_audit": q255_benford_audit,
        "q256_host_trends": q256_host_trends,
        "q257_supershingles": q257_supershingles,
        "q258_wand_bounds": q258_wand_bounds,
        "q259_image_dims_tiff_ico": q259_image_dims_tiff_ico,
        "q260_readability_family": q260_readability_family,
        "q261_fleiss_panel": q261_fleiss_panel,
        "q262_krippendorff": q262_krippendorff,
        "q263_source_jsd": q263_source_jsd,
        "q264_lexical_richness": q264_lexical_richness,
        "q265_classifier_auc": q265_classifier_auc,
        "q266_ndcg": q266_ndcg,
        "q267_ranker_concordance": q267_ranker_concordance,
        "q268_spearman": q268_spearman,
        "q269_mcnemar": q269_mcnemar,
        "q270_pareto_frontier": q270_pareto_frontier,
        "q271_traffic_burstiness": q271_traffic_burstiness,
        "q272_source_tier_gtest": q272_source_tier_gtest,
        "q273_k_anonymity": q273_k_anonymity,
        "q274_tail_index": q274_tail_index,
        "q275_feature_info_gain": q275_feature_info_gain,
        "q276_latency_ks": q276_latency_ks,
        "q277_score_psi": q277_score_psi,
        "q278_fetch_wilson": q278_fetch_wilson,
        "q279_latency_w1": q279_latency_w1,
        "q280_quality_gate_threshold": q280_quality_gate_threshold,
        "q281_sprt_health": q281_sprt_health,
        "q282_ipf_raking": q282_ipf_raking,
        "q283_negative_sampling": q283_negative_sampling,
        "q284_luhn_summaries": q284_luhn_summaries,
        "q285_fdr_hosts": q285_fdr_hosts,
        "q286_burrows_delta": q286_burrows_delta,
        "q287_latency_mwu": q287_latency_mwu,
        "q288_page_survival": q288_page_survival,
        "q289_rate_shrinkage": q289_rate_shrinkage,
        "q290_lifetime_logrank": q290_lifetime_logrank,
        "q291_fleet_mh": q291_fleet_mh,
        "q292_vocab_chao1": q292_vocab_chao1,
        "q293_tier_kruskal": q293_tier_kruskal,
        "q294_isotonic_recal": q294_isotonic_recal,
        "q295_brier_decomp": q295_brier_decomp,
        "q296_title_editdist": q296_title_editdist,
        "q297_conformal_novelty": q297_conformal_novelty,
        "q298_ht_corpus_total": q298_ht_corpus_total,
        "q299_latency_gpd": q299_latency_gpd,
        "q300_fdr_hosts_by": q300_fdr_hosts_by,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_crawl_bfs": _Q01_SQL,
        "q02_url_normalize": _Q02_SQL,
        "q03_host_counts": _Q03_SQL,
        "q04_link_filter": _Q04_SQL,
        "q05_robots_gate": _Q05_SQL,
        "q06_cache_key": _Q06_SQL,
        "q07_crawl_stats": _Q07_SQL,
        "q08_span_assembly": _Q08_SQL,
        "q09_text_metrics": _Q09_SQL,
        "q10_lang_id": _q10_sql(),
        "q11_quality": _Q11_SQL,
        "q12_dedup_exact": _Q12_SQL,
        "q13_minhash_sig": _minhash_sql(4),
        "q14_minhash_lsh_pairs": _q14_sql(),
        "q15_ngram_jaccard": _Q15_SQL,
        "q16_simhash": _q16_sql(16),
        "q17_sim_topk": _Q17_SQL,
        "q18_ivf_topk": _Q18_SQL,
        "q19_near_dup_cosine": _Q19_SQL,
        "q20_fingerprint": _Q20_SQL,
        "q21_sessions": _Q21_SQL,
        "q22_semantic_chunks": _Q22_SQL,
        "q23_sentence_chunks": _Q23_SQL,
        "q24_source_counts": _Q24_SQL,
        "q25_topk_per_lang": _Q25_SQL,
        "q26_metadata_extract": _Q26_SQL,
        "q27_pdf_heuristics": _Q27_SQL,
        "q28_clean_markdown": _Q28_SQL,
        "q29_bloom_seen": _Q29_SQL,
        "q30_span_kind_counts": _Q30_SQL,
        "q31_simhash_pairs": _q31_sql(32),
        "q32_metadata_full": _Q32_SQL,
        "q33_json_ld": _Q33_SQL,
        "q34_renamed_metadata_spans": _Q34_SQL,
        "q35_robots_wildcard": _Q35_SQL,
        "q36_politeness_budget": _Q36_SQL,
        "q37_dedup_groups": _q37_sql(),
        "q38_media_decode": _Q38_SQL,
        "q39_stopword_ratio": _Q39_SQL,
        "q40_pagerank": _q40_sql(),
        "q41_indegree_hist": _Q41_SQL,
        "q42_char_entropy": _Q42_SQL,
        "q43_tfidf_topk": _Q43_SQL,
        "q44_cuckoo_seen": _Q44_SQL,
        "q45_srp_lsh_pairs": _q45_sql(threshold=0.35),
        "q46_priority_schedule": _Q46_SQL,
        "q47_stratified_sample": _Q47_SQL,
        "q48_anchor_stats": _Q48_SQL,
        "q49_docx_convert": _Q49_SQL,
        "q50_ttl_recrawl": _Q50_SQL,
        "q51_xlsx_convert": _Q51_SQL,
        "q52_png_decode": _Q52_SQL,
        "q53_contamination": _Q53_SQL,
        "q54_proportional_mix": _Q54_SQL,
        "q55_trap_scores": _Q55_SQL,
        "q56_pdf_objstm_convert": _Q56_SQL,
        "q57_repetition_quality": _Q57_SQL,
        "q58_line_dedup": _Q58_SQL,
        "q59_pii_scrub": _Q59_SQL,
        "q60_pdf_cid_convert": _Q60_SQL,
        "q61_pdf_lzw_convert": _Q61_SQL,
        "q62_image_near_dup": _Q62_SQL,
        "q63_image_dedup_groups": _Q63_SQL,
        "q64_passage_dedup": _Q64_SQL,
        "q65_gopher_filters": _Q65_SQL,
        "q66_unigram_lm_score": _Q66_SQL,
        "q67_semantic_dedup": _Q67_SQL,
        "q68_token_budget_sample": _Q68_SQL,
        "q69_top_trigram_coverage": _Q69_SQL,
        "q70_dup_ngram_cover": _Q70_SQL,
        "q71_curation_profile": _Q71_SQL,
        "q72_blocklist_flags": _Q72_SQL,
        "q73_dedup_cluster_histogram": _q73_sql(),
        "q74_bm25_topk": _Q74_SQL,
        "q75_bigram_lm_score": _Q75_SQL,
        "q76_recrawl_priority": _Q76_SQL,
        "q77_hll_distinct": _Q77_SQL,
        "q78_kmeans_cells": _q78_sql(),
        "q79_warc_roundtrip": _Q79_SQL,
        "q80_sitemap_parse": _Q80_SQL,
        "q81_robots_parse": _Q81_SQL,
        "q82_snapshot_diff": _Q82_SQL,
        "q83_sequence_packing": _Q83_SQL,
        "q84_hits": _q84_sql(),
        "q85_redirect_chains": _Q85_SQL,
        "q86_cms_host_counts": _Q86_SQL,
        "q87_feed_parse": _Q87_SQL,
        "q88_content_sniff": _Q88_SQL,
        "q89_audio_features": _Q89_SQL,
        "q90_video_frame_sample": _Q90_SQL,
        "q91_containment_pairs": _Q91_SQL,
        "q92_canonical_collapse": _Q92_SQL,
        "q93_pq_codes": _q93_sql(),
        "q94_phrase_search": _Q94_SQL,
        "q95_soft404_flags": _Q95_SQL,
        "q96_charset_sniff": _Q96_SQL,
        "q97_revalidate": _Q97_SQL,
        "q98_snapshot_retention": _Q98_SQL,
        "q99_normalized_dedup": _q99_sql(),
        "q100_registrable_domain": _Q100_SQL,
        "q101_adaptive_delays": _Q101_SQL,
        "q102_palette_png_decode": _Q102_SQL,
        "q103_asof_robots": _Q103_SQL,
        "q104_range_lookup": _Q104_SQL,
        "q105_rollup_merge": _Q105_SQL,
        "q106_kmv_estimate": _Q106_SQL,
        "q107_kmv_setops": _Q107_SQL,
        "q108_exact_quantiles": _Q108_SQL,
        "q109_path_rollup": _Q109_SQL,
        "q110_interval_overlap": _Q110_SQL,
        "q111_oov_rate": _Q111_SQL,
        "q112_lang_confusion": _q112_sql(),
        "q113_allpairs_cosine": _Q113_SQL,
        "q114_host_templates": _Q114_SQL,
        "q115_strip_boilerplate": _Q115_SQL,
        "q116_rate_anomalies": _Q116_SQL,
        "q117_lsh_recall": _q117_sql(),
        "q118_crawl_cube": _Q118_SQL,
        "q119_vocab_growth": _Q119_SQL,
        "q120_incremental_lsh": _q120_sql(),
        "q121_best_representatives": _q121_sql(),
        "q122_source_weighted_sample": _Q122_SQL,
        "q123_group_split": _Q123_SQL,
        "q124_readability": _Q124_SQL,
        "q125_bpe_pairs": _Q125_SQL,
        "q126_domain_quality": _q126_sql(),
        "q127_ivf_pq_search": _q127_sql(),
        "q128_adaptive_quality": _q128_sql(),
        "q129_meta_robots": _Q129_SQL,
        "q130_split_leakage": _Q130_SQL,
        "q131_circuit_breaker": _Q131_SQL,
        "q132_pptx_convert": _Q132_SQL,
        "q133_sitemap_stale": _Q133_SQL,
        "q134_hreflang_clusters": _Q134_SQL,
        "q135_mixture_report": _Q135_SQL,
        "q137_trained_ivf": _q137_sql(),
        "q138_trustrank": _q138_sql(),
        "q139_budget_apportion": _Q139_SQL,
        "q140_mirror_hosts": _Q140_SQL,
        "q141_balanced_shards": _Q141_SQL,
        "q142_focused_priorities": _Q142_SQL,
        "q143_ngram_novelty": _Q143_SQL,
        "q144_site_size_estimate": _Q144_SQL,
        "q145_sitemap_coverage": _Q145_SQL,
        "q146_link_reciprocity": _Q146_SQL,
        "q147_jaccard_histogram": _Q147_SQL,
        "q148_ewma_rates": _Q148_SQL,
        "q149_length_trim": _Q149_SQL,
        "q150_quality_classifier": _q150_sql(),
        "q151_surt_keys": _Q151_SQL,
        "q152_param_relevance": _q152_sql(),
        "q153_fetch_fairness": _q153_sql(),
        "q154_scalar_quantize": _q154_sql(),
        "q155_media_density": _Q155_SQL,
        "q156_caption_pairs": _Q156_SQL,
        "q157_renumber_spans": _Q157_SQL,
        "q158_media_audit": _Q158_SQL,
        "q159_makespan": _Q159_SQL,
        "q160_cache_ttl": _Q160_SQL,
        "q161_retry_backoff": _Q161_SQL,
        "q162_table_cells": _Q162_SQL,
        "q163_mixture_weights": _Q163_SQL,
        "q164_token_windows": _Q164_SQL,
        "q165_keywords": _Q165_SQL,
        "q166_indexability": _Q166_SQL,
        "q167_embedding_outliers": _q167_sql(),
        "q168_multimodal_packing": _Q168_SQL,
        "q169_ann_recall": _Q169_SQL,
        "q170_scheme_dupes": _Q170_SQL,
        # q171 is rows-only (DEFLATE has no relational form) — like q136
        "q172_ppjoin": _Q172_SQL,
        "q173_opic": _q173_sql(),
        "q174_fetcher_assign": _Q174_SQL,
        "q175_fetch_timeline": _Q175_SQL,
        "q176_path_traps": _Q176_SQL,
        "q177_host_rank": _q177_sql(),
        "q178_dust_rules": _Q178_SQL,
        "q179_script_profile": _Q179_SQL,
        "q180_fleet_load": _Q180_SQL,
        "q181_canonical_chain": _Q181_SQL,
        "q182_link_diversity": _Q182_SQL,
        "q183_subdomain_farms": _Q183_SQL,
        "q184_implied_delays": _Q184_SQL,
        "q185_cdx_index": _Q185_SQL,
        "q186_revisit_dedup": _Q186_SQL,
        "q187_poisson_rate": _Q187_SQL,
        "q188_triangles": _Q188_SQL,
        "q189_zipnum_blocks": _Q189_SQL,
        "q190_refresh_value": _q190_sql(),
        "q191_heaps_fit": _Q191_SQL,
        "q192_coreness": _q192_sql(),
        "q193_hyperball": _q193_sql(),
        "q194_cdc_chunks": _Q194_SQL,
        "q195_cdc_dedup_stats": _Q195_SQL,
        "q196_zipf_fit": _Q196_SQL,
        "q197_bowtie": _q197_sql(),
        "q198_posting_layout": _Q198_SQL,
        "q199_revisit_ledger": _Q199_SQL,
        "q200_lpa_communities": _q200_sql(),
        "q201_bm25f": _Q201_SQL,
        "q202_modularity": _q202_sql(),
        "q203_neighborhood_function": _q203_sql(),
        "q204_sitemap_shards": _Q204_SQL,
        "q205_community_fetcher_shards": _q205_sql(),
        "q206_assortativity": _Q206_SQL,
        "q207_gif_decode": _Q207_SQL,
        "q208_rrf_fusion": _q208_sql(),
        "q209_typosquats": _Q209_SQL,
        "q210_spam_mass": _q210_sql(),
        "q211_capacity_plan": _Q211_SQL,
        "q212_katz": _q212_sql(),
        "q213_salsa": _q213_sql(),
        "q214_ring_assign": _q214_sql(),
        "q215_anchor_bm25": _Q215_SQL,
        "q216_ql_dirichlet": _Q216_SQL,
        "q217_frontier_exhaustion": _Q217_SQL,
        "q218_winnow_fingerprints": _Q218_SQL,
        "q219_winnow_pairs": _Q219_SQL,
        "q220_ef_postings": _Q220_SQL,
        "q221_image_dims": _Q221_SQL,
        "q222_dsir_weights": _Q222_SQL,
        "q223_cocitation": _Q223_SQL,
        "q224_unimax_mix": _Q224_SQL,
        "q225_image_dims_ext": _Q225_SQL,
        "q226_kneser_ney": _Q226_SQL,
        "q227_rm3_expansion": _Q227_SQL,
        "q228_rm3_topk": _Q228_SQL,
        "q229_moore_lewis": _Q229_SQL,
        "q230_witten_bell": _Q230_SQL,
        "q231_ccnet_tertiles": _Q231_SQL,
        "q232_rocchio": _Q232_SQL,
        "q233_sdm": _Q233_SQL,
        "q234_mmr": _Q234_SQL,
        "q235_ktruss": _Q235_SQL,
        "q236_components": _Q236_SQL,
        "q237_link_prediction": _Q237_SQL,
        "q238_zipf": _Q238_SQL,
        "q239_heaps": _Q239_SQL,
        "q240_textrank": _Q240_SQL,
        "q241_rake": _Q241_SQL,
        "q242_simrank": _Q242_SQL,
        "q243_refresh_policies": _Q243_SQL,
        "q244_diversity": _Q244_SQL,
        "q245_weighted_sample": _Q245_SQL,
        "q246_spotsigs": _Q246_SQL,
        "q247_wl_colors": _Q247_SQL,
        "q248_collocations": _Q248_SQL,
        "q249_source_divergence": _Q249_SQL,
        "q250_bradley_terry": _Q250_SQL,
        "q251_ucb_schedule": _Q251_SQL,
        "q252_calibration": _Q252_SQL,
        "q253_rater_agreement": _Q253_SQL,
        "q254_latency_drift": _Q254_SQL,
        "q255_benford_audit": _Q255_SQL,
        "q256_host_trends": _Q256_SQL,
        "q257_supershingles": _Q257_SQL,
        "q258_wand_bounds": _Q258_SQL,
        "q259_image_dims_tiff_ico": _Q259_SQL,
        "q260_readability_family": _Q260_SQL,
        "q261_fleiss_panel": _Q261_SQL,
        "q262_krippendorff": _Q262_SQL,
        "q263_source_jsd": _Q263_SQL,
        "q264_lexical_richness": _Q264_SQL,
        "q265_classifier_auc": _Q265_SQL,
        "q266_ndcg": _Q266_SQL,
        "q267_ranker_concordance": _Q267_SQL,
        "q268_spearman": _Q268_SQL,
        "q269_mcnemar": _Q269_SQL,
        "q270_pareto_frontier": _Q270_SQL,
        "q271_traffic_burstiness": _Q271_SQL,
        "q272_source_tier_gtest": _Q272_SQL,
        "q273_k_anonymity": _Q273_SQL,
        "q274_tail_index": _Q274_SQL,
        "q275_feature_info_gain": _Q275_SQL,
        "q276_latency_ks": _Q276_SQL,
        "q277_score_psi": _Q277_SQL,
        "q278_fetch_wilson": _Q278_SQL,
        "q279_latency_w1": _Q279_SQL,
        "q280_quality_gate_threshold": _Q280_SQL,
        "q281_sprt_health": _Q281_SQL,
        "q282_ipf_raking": _Q282_SQL,
        "q283_negative_sampling": _Q283_SQL,
        "q284_luhn_summaries": _Q284_SQL,
        "q285_fdr_hosts": _Q285_SQL,
        "q286_burrows_delta": _Q286_SQL,
        "q287_latency_mwu": _Q287_SQL,
        "q288_page_survival": _Q288_SQL,
        "q289_rate_shrinkage": _Q289_SQL,
        "q290_lifetime_logrank": _Q290_SQL,
        "q291_fleet_mh": _Q291_SQL,
        "q292_vocab_chao1": _Q292_SQL,
        "q293_tier_kruskal": _Q293_SQL,
        "q294_isotonic_recal": _Q294_SQL,
        "q295_brier_decomp": _Q295_SQL,
        "q296_title_editdist": _Q296_SQL,
        "q297_conformal_novelty": _Q297_SQL,
        "q298_ht_corpus_total": _Q298_SQL,
        "q299_latency_gpd": _Q299_SQL,
        "q300_fdr_hosts_by": _Q300_SQL,
    }
