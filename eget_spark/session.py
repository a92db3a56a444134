"""SparkSession construction tuned for the engine, and ``scoped_conf``,
the one place the engine changes a running session's conf.

Local-mode defaults mirror what a cluster submit would set via spark-submit
conf; the engine code itself never assumes local mode.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(8g, ~25% of MemTotal), floor 2g — see the heap-sizing note in
    get_spark for the measurements behind the 8g cap."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
        gb = max(2, min(8, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 8
    return f"{gb}g"


def get_spark(
    app_name: str = "eget_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or '*'.  Shuffle partitions
    default to the core count — at cluster scale the caller sets this to
    ~2-3x total executor cores instead.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark 4's 64m default for maxBytesPerBatch makes every
        # JVM->Python Arrow feed call ArrowWriter.sizeInBytes() PER ROW
        # (BatchedPythonArrowInput.underBatchSizeLimit skips the probe
        # only at Int.MaxValue) — thread dumps showed the per-row sizing
        # as the hottest frames of the pair-kernel stage, and it
        # quintupled under long-session JIT deopt (31s vs 12s for the
        # same query).  Int.MaxValue restores record-count-bounded
        # batches (the Spark 3 contract); maxRecordsPerBatch (default
        # 10k rows) keeps per-batch memory bounded for wide rows.
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch", str((1 << 31) - 1)
        )
        # Local-mode heap sizing is a real trade-off, measured both ways:
        # 8g produced GCLocker allocation stalls at local[8] on the 800k
        # benchxxl corpus (round 4), but 32g made the 30k-page frontier
        # bench 2.2-2.5x SLOWER end-to-end (round-5 bisect, interleaved:
        # 8g -> 1316 URLs/s, 16g -> ~1100, 32g -> 450-583; monotonic in
        # heap size, reproducible in quiet windows — heap size itself,
        # not host noise).  So the LIBRARY default stays small (min(8g,
        # ~25% of MemTotal)); jobs that cache million-doc corpora in
        # local mode (tools/bench_scaling.py xxl runs) set
        # EGET_DRIVER_MEM=32g explicitly.  A cluster submit overrides
        # with executor memory conf and none of this applies.
        .config(
            "spark.driver.memory",
            os.environ.get("EGET_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # bucketed-table warehouse (write_bucketed_corpus); keep it out of
        # the repo cwd — on a cluster this is the catalog's table location
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "EGET_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "eget_warehouse"),
            ),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]) -> Iterator[None]:
    """Apply ``settings`` to ``spark``'s session conf for the body.

    Each key's prior value, or its absence, is recorded first and put back
    in ``finally`` (an absent key is unset again), so a raising body leaks
    nothing and a nested scope restores the outer scope's values.

    A setting acts when an action plans (for ``persist``, when the cache
    entry is registered), not when a DataFrame is built, so that action
    must run inside the scope.  Contract: one session driven by one
    thread; threads scoping the same key of a shared session would
    restore each other's values.
    """
    conf = spark.conf
    prior = {key: conf.get(key, None) for key in settings}
    try:
        for key, value in settings.items():
            conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                conf.unset(key)
            else:
                conf.set(key, value)
