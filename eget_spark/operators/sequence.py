"""Deterministic global sequence numbers without a single-partition sort.

The reference's FIFO admission order (queue_manager.py:34-57 under the
SURVEY.md §2.10 determinism contract) requires a *total order* over each
round's candidates.  A naive ``row_number() OVER (ORDER BY ...)`` collapses
to one partition — a non-starter at 10^8-row rounds.  Instead:

1. ``repartitionByRange`` on the order keys (range exchange — partition i
   holds keys <= partition i+1's),
2. sort within partitions,
3. per-partition ``row_number`` + partition-count prefix offsets (a tiny
   ``groupBy(partition_id).count()`` collect — one row per partition).

The result is the exact global rank, computed with two shuffles of which
only the range exchange touches the data.  Ties must be impossible (callers
order by a unique key set) or ranks at range boundaries become ambiguous.

Plan-shape note (measured, round 2): the prefix offsets are joined in as a
tiny broadcast DataFrame rather than embedded as ``create_map`` literals —
literal maps change the generated code every round (different offsets =>
janino recompile, ~1-2 s/round of pure driver stall in iterative callers);
a broadcast join keeps the plan template identical across rounds so the
whole-stage-codegen cache hits.  That DataFrame is a local relation
(:func:`_local_table`): a ``LocalTableScan`` whose rows are data, so
neither the generated code nor a Python worker depends on them.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..session import scoped_conf


@dataclass
class SeqResult:
    """Result of :func:`with_global_seq`.

    ``df`` reads from the persisted, sorted candidate set.  The caller must
    materialize ``df`` (checkpoint/write/collect) and then call
    :meth:`unpersist` — holding the handles explicitly here replaces the
    fragile ``_eget_tmp_persist`` attribute hand-off flagged in round 1
    (attributes don't survive DataFrame transformations).
    """

    df: DataFrame
    total: int  # total input rows (= sum of per-partition counts, free)
    persisted: list[DataFrame]

    def unpersist(self) -> None:
        for p in self.persisted:
            p.unpersist()


# Below this input size the generic path ranks with ONE ordered window
# instead of the range-exchange machinery: a range exchange of a
# sub-threshold table is pure overhead (sampling job + exchange + counts
# collect + offsets broadcast ~= 5 scheduler round-trips), while a single
# sort task over <= ~1M narrow rows is milliseconds.  This is the
# scale-adaptive partitioning the optimization guide asks for (derive
# the plan from the input size, not a constant): ABOVE the threshold the
# range-partitioned path is unchanged and remains the 100-TB story.
SEQ_SMALL_ROWS = 1 << 20

_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}
_ARROW_ON = {"spark.sql.execution.arrow.pyspark.enabled": "true"}


def _local_table(spark, cols: list[str], rows: list[tuple]) -> DataFrame:
    """A bigint table of driver-side ``rows`` with columns ``cols``, planned
    as a ``LocalTableScan``: the rows reach the JVM as one Arrow batch and
    become a local relation, not a Python RDD that a job must evaluate.
    (An inline ``VALUES`` table plans the same, but parsing it took ~6 s
    for 100k rows.)"""
    pdf = pd.DataFrame(rows, columns=cols, dtype="int64")
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])
    with scoped_conf(spark, _ARROW_ON):
        return spark.createDataFrame(pdf, schema)


def _group_counts(parts: DataFrame, group_col: str) -> dict:
    """{group key: row count} — one row per partition or bucket."""
    return {
        r[group_col]: r["cnt"]
        for r in parts.groupBy(group_col).agg(F.count("*").alias("cnt")).collect()
    }


def with_global_seq(
    df: DataFrame,
    order_cols: list[str],
    start: int = 0,
    seq_col: str = "seq",
    num_partitions: int | None = None,
    bucket_expr=None,
    small_threshold: int | None = None,
) -> SeqResult:
    """Add ``seq_col`` = start + (1-based global rank by order_cols) - 1.

    Three physical strategies:

    - ``bucket_expr`` given (a Column, MONOTONE in the leading order key
      and constant for equal keys — e.g. ``floor(parent_seq / 1024)``):
      hash-exchange on the bucket, per-bucket rank + bucket prefix offsets.
      No range-bound SAMPLING JOB (a range exchange computes its child
      TWICE: once to sample bounds, once to shuffle) and no input persist —
      the candidate pipeline runs exactly once. Bucket sizes are bounded by
      the caller's key density, so per-bucket sorts stay parallel.
    - otherwise the input is persisted and counted (so the sampling pass
      no longer re-computes an expensive upstream pipeline), and:

      - at or under ``small_threshold`` rows (default
        :data:`SEQ_SMALL_ROWS`; pass 0 to force the scale path): ONE
        ordered window over the cached rows — a deliberate size-adaptive
        single sort task, exactly what a range exchange would degenerate
        to anyway after AQE coalescing, minus its 4 extra jobs;
      - above it: ``repartitionByRange`` on the order keys (the exact
        parallel path — per-partition rank + broadcast prefix offsets).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if small_threshold is None:
        small_threshold = SEQ_SMALL_ROWS

    if bucket_expr is not None:
        # the bucket branch runs entirely under AQE-off, through the
        # counts collect below: the cached plan takes the session's AQE
        # setting when persist() registers it, and an AQE plan runs as a
        # chain of 3-4 serial sub-jobs of driver round-trip latency per
        # call — this is the crawl loop's per-round hot path, and the
        # bucket exchange's partitioning is already derived from the
        # caller's input size
        group_col = "_bkt"
        with scoped_conf(spark, _AQE_OFF):
            parts = (
                df.withColumn("_bkt", bucket_expr.cast("long"))
                .repartition(num_partitions, F.col("_bkt"))
                .persist()
            )
            counts = _group_counts(parts, group_col)
    else:
        src = df.persist()
        n_in = src.count()
        if n_in <= small_threshold:
            w = Window.orderBy(*order_cols)
            out = src.withColumn(
                seq_col,
                (F.lit(start) + F.row_number().over(w) - 1).cast("long"),
            )
            return SeqResult(out, n_in, [src])
        if num_partitions == 1:
            # single partition: a round-robin exchange needs no range bounds
            exchanged = src.repartition(1)
        else:
            exchanged = src.repartitionByRange(
                num_partitions, *[F.col(c) for c in order_cols]
            )
        parts = (
            exchanged.sortWithinPartitions(*order_cols)
            .withColumn("_pid", F.spark_partition_id())
            .persist()
        )
        group_col = "_pid"
        # AQE splits this one counts job into ~6 serial sub-jobs
        # (materialize, shuffle-read, re-optimize, final agg) — pure driver
        # round-trip latency on a per-round hot path (measured ~0.4-0.6
        # s/crawl round).  The aggregate is a partial-combined count over
        # the cached partitions with a bounded-cardinality key; AQE has
        # nothing to optimize here, so run just this collect with it off
        with scoped_conf(spark, _AQE_OFF):
            counts = _group_counts(parts, group_col)
    total = sum(counts.values())
    offsets = []
    acc = start
    for key in sorted(counts):
        offsets.append((key, acc))
        acc += counts[key]
    held = [parts] if bucket_expr is not None else [parts, src]
    if not offsets:  # empty input: no rows, any typed constant works
        out = parts.withColumn(seq_col, F.lit(start).cast("long")).drop(group_col)
        return SeqResult(out, 0, held)
    off_df = _local_table(spark, [group_col, "_off"], offsets)
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    out = (
        parts.join(F.broadcast(off_df), group_col)
        .withColumn(
            seq_col, (F.col("_off") + F.row_number().over(w) - 1).cast("long")
        )
        .drop(group_col, "_off")
    )
    return SeqResult(out, total, held)


@dataclass
class PrefixResult:
    """Result of :func:`with_global_prefix_sums`: ``df`` carries one
    ``{col}_cum`` INCLUSIVE global prefix sum per requested column;
    ``totals`` maps each column to its grand total (free — derived from
    the same driver-bounded per-partition sums the offsets need).  Same
    materialize-then-:meth:`unpersist` contract as :class:`SeqResult`."""

    df: DataFrame
    totals: dict[str, int]
    persisted: list[DataFrame]

    def unpersist(self) -> None:
        for p in self.persisted:
            p.unpersist()


def with_global_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    num_partitions: int | None = None,
    small_threshold: int | None = None,
) -> PrefixResult:
    """Exact INCLUSIVE global running sums of ``sum_cols`` in
    ``order_cols`` order — the ECDF/threshold-sweep primitive — without
    ever planning a SinglePartition window at scale: range-exchange on
    the order keys, per-partition window sums, and driver-bounded
    per-partition totals (ONE row per shuffle partition, the
    :func:`with_global_seq` offset discipline) broadcast back as prefix
    seeds.

    Size-adaptive like :func:`with_global_seq` (round 6): the input is
    persisted and counted first, so the range exchange's sampling pass
    no longer re-computes the upstream pipeline, and at or under
    ``small_threshold`` rows (default :data:`SEQ_SMALL_ROWS`; pass 0 to
    force the scale path) the sums come from ONE ordered window over the
    cached rows — what the range exchange would degenerate to anyway
    after AQE coalescing, minus its sampling/counts/offset jobs.

    Consumers: KS distance (q276), Wasserstein-1 (q279), threshold
    sweeps (q280) — anything that walks a global order accumulating
    counts."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    if small_threshold is None:
        small_threshold = SEQ_SMALL_ROWS
    src = df.persist()
    n_in = src.count()
    if n_in <= small_threshold:
        w = Window.orderBy(*order_cols).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        # `_pid` stays in the contract: consumers (Wasserstein's
        # boundary-seed lag) partition their own windows by it
        out = src.withColumn("_pid", F.lit(0).cast("long"))
        for c in sum_cols:
            out = out.withColumn(
                f"{c}_cum", F.sum(c).over(w).cast("long")
            )
        trow = src.agg(
            *[F.sum(c).cast("long").alias(c) for c in sum_cols]
        ).collect()[0]
        totals = {c: (trow[c] or 0) for c in sum_cols}
        return PrefixResult(out, totals, [src])
    parts = (
        src.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id().cast("long"))
        .persist()
    )
    psums = {
        r["_pid"]: [r[f"_s_{c}"] for c in sum_cols]
        for r in parts.groupBy("_pid")
        .agg(*[F.sum(c).cast("long").alias(f"_s_{c}") for c in sum_cols])
        .collect()
    }
    seeds = []
    acc = [0] * len(sum_cols)
    for pid in sorted(psums):
        seeds.append(tuple([pid] + list(acc)))
        acc = [a + (s or 0) for a, s in zip(acc, psums[pid])]
    totals = dict(zip(sum_cols, acc))
    seed_df = _local_table(spark, ["_pid"] + [f"_off_{c}" for c in sum_cols], seeds)
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = parts.join(F.broadcast(seed_df), "_pid", "left")
    for c in sum_cols:
        out = out.withColumn(
            f"{c}_cum",
            (
                F.coalesce(F.col(f"_off_{c}"), F.lit(0))
                + F.sum(c).over(w_in)
            ).cast("long"),
        )
    out = out.drop(*[f"_off_{c}" for c in sum_cols])
    return PrefixResult(out, totals, [parts, src])
