"""Build the benchmark's inputs once per checkout, in a process of its own.

    python3 perfbench/prepare.py <cache-dir>

Writes, under ``<cache-dir>``:

- ``docs/``: the synthetic crawl corpus (``synth`` scale ``medium``,
  generator seed 42) as parquet;
- ``sf/``: the curation tables, made by ``tools/gen_sf_local.py`` at
  ``CURATE_SCALE``;
- ``expected.json``: for each curation query, the digest of its DuckDB
  oracle (``oracle_sql`` in ``__spark_entry__.py``) over ``sf/``;
- ``_READY`` last, so an interrupted build is redone.

``run.py`` starts it before its own Spark session, so every measured run
starts with an equally cold JVM.  The cache directory's name is a hash of
the sources that decide its content (see ``cache_key``): a change to the
corpus generator, the table generator or an oracle builds a new cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORPUS_SCALE = "medium"  # 64 hosts, 49,880 docs, generator seed 42
CORPUS_PARTITIONS = 64
CURATE_SCALE = "0.01"  # tools/gen_sf_local.py scale: 500 documents
# one query per operator family the curation workload covers
CURATE_QUERIES = (
    "q13_minhash_sig",  # dedup: minhash signatures
    "q41_indegree_hist",  # graph: in-degree distribution
    "q86_cms_host_counts",  # count-min sketch
)
CURATE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
# the sources whose content decides what the cache holds
KEY_FILES = (
    "eget_spark/synth.py",
    "tools/gen_sf_local.py",
    "__spark_entry__.py",
    "perfbench/prepare.py",
    "perfbench/bench_stats.py",  # the digest
)


def cache_key() -> str:
    h = hashlib.sha256()
    for rel in KEY_FILES:
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(rel.encode() + b"\0" + fh.read() + b"\0")
    return h.hexdigest()[:16]


def cache_path(cache_root: str) -> str:
    return os.path.join(cache_root, cache_key())


def is_ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_READY"))


def oracle_digests(sf_dir: str) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as entry
    from bench_stats import frame_digest

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in CURATE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {q: frame_digest(con.execute(oracles[q]).df()) for q in CURATE_QUERIES}
    finally:
        con.close()


def build(path: str) -> None:
    from eget_spark.session import get_spark
    from eget_spark.synth import build_docs

    from bench_proc import tree_pids, wait_gone

    # one cache per checkout: drop the ones older sources made
    root = os.path.dirname(path)
    if os.path.isdir(root):
        for name in os.listdir(root):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    os.makedirs(path)
    sf_dir = os.path.join(path, "sf")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_sf_local.py"), sf_dir, CURATE_SCALE],
        check=True,
        stdout=sys.stderr,
    )
    expected = oracle_digests(sf_dir)

    spark = get_spark(
        app_name="perfbench-prepare",
        cores=len(os.sched_getaffinity(0)),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    gateway = spark.sparkContext._gateway
    try:
        build_docs(spark, CORPUS_SCALE, n_partitions=CORPUS_PARTITIONS).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "docs"))
    finally:
        children = tree_pids() - {os.getpid()}
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        wait_gone(children, timeout=30)
    with open(os.path.join(path, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
    with open(os.path.join(path, "_READY"), "w") as fh:
        fh.write(cache_key() + "\n")


def main(argv) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    path = cache_path(argv[0])
    if not is_ready(path):
        build(path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
