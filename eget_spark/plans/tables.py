"""Round-partitioned crawl state: one idempotent commit per crawl round.

A durable crawl (``crawl(..., table_dir=...)``) keeps its state in one
table partitioned by ``round`` and ``kind``.  A round's rows come in three
kinds, all with the frontier columns (url, host, depth, parent_url, seq):

- ``docs``: the page rows the round emitted (fetch hits plus exhausted
  misses), with status, markdown, spans and partition_id;
- ``admitted``: the URLs the round admitted (seen set, admission order);
- ``pending``: the next round's frontier, plus ``attempt``: how often a
  retried fetch miss has been attempted (NULL, read as 0, on a row that
  was never fetched).  Rounds written before ``attempt`` existed read
  it as NULL.

Retry attempts, the seen set and the admission order are all data in
these rows, so a resumed crawl rebuilds its whole state from the commit.

Each round also has one log row, its ``RoundStats`` counters plus the
next frontier's size (``pending``).  The log row is the commit marker.

Commit protocol (parquet, the default backend), all inside one
:meth:`RoundTable.append` call:

1. one Spark job writes every row of the round, ``partitionBy("kind")``,
   into ``{root}/_staging/{name}/round=N``, replacing whatever an earlier
   attempt at round N left there;
2. the driver writes the log row as ``_log.json`` into the same staging
   directory through the Hadoop ``FileSystem`` API (no Spark job);
3. one rename publishes the directory as ``{root}/{name}/round=N``.

Layout of a crawl's ``table_dir`` (``name`` is ``rounds``)::

    rounds/round=N/kind=docs/part-*.parquet
    rounds/round=N/kind=admitted/part-*.parquet
    rounds/round=N/kind=pending/part-*.parquet
    rounds/round=N/_log.json
    _staging/rounds/round=N/...              (a round not yet published)

Readers see published rounds only: resume reads their log rows on the
driver, and a crash at any step leaves at most an unpublished staging
directory, which the re-run of that round replaces, so a round is never
written twice.  Reads name their schema, so none runs a schema-inference
job.

Iceberg (``catalog=`` naming a configured catalog, e.g.::

    spark.sql.catalog.eget = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.eget.type = hadoop
    spark.sql.catalog.eget.warehouse = <path>

): one table ``<catalog>.<name>`` partitioned by ``round`` and ``kind``.
A round's rows are written with ``overwritePartitions()``, then its log
row (kind ``log``, the JSON in column ``log``) with a second one-row
``overwritePartitions()``; that second snapshot is the commit, and reads
keep only rounds that have a log row.  A re-run round overwrites its own
partitions.  The table is created on the first write, and only when the
catalog reports it missing.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FRONTIER_COLS = ["url", "host", "depth", "parent_url", "seq"]
KIND_COLS = {
    "docs": FRONTIER_COLS + ["status", "markdown", "spans", "partition_id"],
    "admitted": FRONTIER_COLS,
    "pending": FRONTIER_COLS + ["attempt"],
}
_LOG = "_log.json"


def round_schema(spans_type: T.DataType) -> T.StructType:
    """Columns of a committed row, ``kind`` aside: each kind leaves the
    columns of the others NULL."""
    return T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("depth", T.IntegerType()),
            T.StructField("parent_url", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("markdown", T.StringType()),
            T.StructField("spans", spans_type),
            T.StructField("partition_id", T.IntegerType()),
            T.StructField("attempt", T.IntegerType()),
        ]
    )


def kind_rows(
    schema: T.StructType, df: DataFrame, *kinds: str, **cols: str
) -> DataFrame:
    """``df`` as round rows of ``schema``, once per kind in ``kinds`` from
    one scan of ``df``: the row columns (``cols`` first, then ``df``'s,
    else typed NULL), any other ``cols``, and ``kind``.  ``cols`` are SQL
    expressions, so the rows take one ``selectExpr`` and no Column call
    (each of those costs the driver milliseconds, once per crawl round)."""
    have, rest = set(df.columns), dict(cols)

    def expr(f: T.StructField) -> str:
        # aliased even when kept as is: a fresh attribute, so a crawl
        # that reads its next frontier from these rows and joins it with
        # this round's inputs joins no attribute with itself
        if f.name in have and f.name not in rest:
            return f"`{f.name}` AS `{f.name}`"
        e = rest.pop(f.name, "NULL")
        return f"CAST({e} AS {f.dataType.simpleString()}) AS `{f.name}`"

    row = [expr(f) for f in schema]
    extra = [f"{e} AS `{name}`" for name, e in rest.items()]
    kind = ", ".join(f"'{k}'" for k in kinds)
    if len(kinds) > 1:
        kind = f"explode(array({kind}))"
    return df.selectExpr(*row, *extra, f"{kind} AS kind")


def _extend(schema: T.StructType, *fields: tuple) -> T.StructType:
    """A copy of ``schema`` with (name, type) fields appended
    (``StructType.add`` would change ``schema`` itself)."""
    return T.StructType(schema.fields + [T.StructField(n, t) for n, t in fields])


def _table_missing(exc: Exception) -> bool:
    """Whether a catalog write failed because the table does not exist."""
    return "TABLE_OR_VIEW_NOT_FOUND" in str(exc)


class RoundTable:
    """One round-partitioned table, committed once per crawl round.

    ``schema`` (see :func:`round_schema`) is the row layout, ``kind``
    aside; reads name it, so they run no schema-inference job."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        schema: T.StructType,
        catalog: str | None = None,
    ):
        self.spark = spark
        self.root = root
        self.name = name
        self.catalog = catalog
        self.schema = schema
        if catalog is not None:
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
            if not impl:
                raise ValueError(
                    f"catalog '{catalog}' not configured on this session"
                )

    # -- write ---------------------------------------------------------------

    def append(
        self, rows: DataFrame, round_no: int, log: Callable[[], dict]
    ) -> dict:
        """Commit round ``round_no``: ``rows`` (with a ``kind`` column) in
        one write job, then the log row ``log()`` returns (called once the
        rows are written, so observations on ``rows`` are ready), then
        publish.  Returns the committed log row."""
        self._stage_rows(rows, round_no)
        row = log()
        self._stage_log(round_no, row, rows.schema)
        self._publish(round_no)
        return row

    def _stage_rows(self, rows: DataFrame, round_no: int) -> None:
        if self.catalog:
            self._overwrite(
                rows.withColumn("round", F.lit(round_no)).withColumn(
                    "log", F.lit(None).cast("string")
                )
            )
            return
        (
            rows.write.mode("overwrite")
            # static: the whole staging directory of the round is
            # replaced, whatever the session's overwrite mode
            .option("partitionOverwriteMode", "static")
            # the rename below is the commit marker, not _SUCCESS
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .partitionBy("kind")
            .parquet(self._staging(round_no))
        )

    def _stage_log(self, round_no: int, row: dict, schema: T.StructType) -> None:
        if self.catalog:
            full = _extend(schema, ("round", T.IntegerType()), ("log", T.StringType()))
            values = {"kind": "log", "round": round_no, "log": json.dumps(row)}
            self._overwrite(
                self.spark.createDataFrame(
                    [tuple(values.get(f.name) for f in full)], full
                )
            )
            return
        out = self._fs().create(self._path(f"{self._staging(round_no)}/{_LOG}"), True)
        try:
            out.write(bytearray(json.dumps(row).encode()))
        finally:
            out.close()

    def _publish(self, round_no: int) -> None:
        if self.catalog:
            return  # the log row's snapshot is the commit
        fs = self._fs()
        dst = self._path(self._round_dir(round_no))
        if fs.exists(dst):
            fs.delete(dst, True)
        fs.mkdirs(dst.getParent())
        if not fs.rename(self._path(self._staging(round_no)), dst):
            raise OSError(f"could not publish round {round_no} to {dst}")

    def _overwrite(self, df: DataFrame) -> None:
        full = f"{self.catalog}.{self.name}"
        try:
            df.writeTo(full).overwritePartitions()
        except Exception as exc:
            if not _table_missing(exc):
                raise
            df.writeTo(full).using("iceberg").partitionedBy("round", "kind").create()

    # -- read ----------------------------------------------------------------

    def read(self, kind: str) -> DataFrame:
        """Every committed round's ``kind`` rows, with ``round``."""
        cols = KIND_COLS[kind] + ["round"]
        if self.catalog:
            t = self.spark.table(f"{self.catalog}.{self.name}")
            committed = t.where(F.col("kind") == "log").select("round")
            # a column the table predates (``attempt``) reads as NULL, as
            # it does from parquet
            typed = {f.name: f.dataType.simpleString() for f in self.schema}
            return (
                t.where(F.col("kind") == kind)
                .join(committed, "round", "left_semi")
                .selectExpr(
                    *[
                        c if c in t.columns else f"CAST(NULL AS {typed[c]}) AS {c}"
                        for c in cols
                    ]
                )
            )
        base = f"{self.root}/{self.name}"
        if not self._fs().exists(self._path(base)):
            return self._empty(kind).withColumn("round", F.lit(None).cast("int"))
        parts = ("round", T.IntegerType()), ("kind", T.StringType())
        return (
            self.spark.read.schema(_extend(self.schema, *parts))
            .option("basePath", base)
            .parquet(base)
            .where(F.col("kind") == kind)
            .select(cols)
        )

    def read_round(self, round_no: int, kind: str) -> DataFrame:
        """Round ``round_no``'s ``kind`` rows, without ``round``."""
        if self.catalog:
            return self.read(kind).where(F.col("round") == round_no).drop("round")
        path = f"{self._round_dir(round_no)}/kind={kind}"
        if not self._fs().exists(self._path(path)):
            return self._empty(kind)  # the round had no rows of this kind
        return self.spark.read.schema(self.schema).parquet(path).select(KIND_COLS[kind])

    def read_upto(self, round_no: int, kind: str) -> DataFrame:
        return self.read(kind).where(F.col("round") <= round_no)

    def log_rows(self) -> list[dict]:
        """The committed rounds' log rows, by round (read on the driver)."""
        if self.catalog:
            try:
                got = (
                    self.spark.table(f"{self.catalog}.{self.name}")
                    .where(F.col("kind") == "log")
                    .select("log")
                    .collect()
                )
            except Exception as exc:
                if not _table_missing(exc):
                    raise
                return []
            rows = [json.loads(r["log"]) for r in got]
        else:
            pattern = self._path(f"{self.root}/{self.name}/round=*/{_LOG}")
            found = self._fs().globStatus(pattern) or []
            rows = [self._read_json(st.getPath()) for st in found]
        return sorted(rows, key=lambda r: r["round"])

    # -- helpers -------------------------------------------------------------

    def _round_dir(self, round_no: int) -> str:
        return f"{self.root}/{self.name}/round={round_no}"

    def _staging(self, round_no: int) -> str:
        return f"{self.root}/_staging/{self.name}/round={round_no}"

    def _empty(self, kind: str) -> DataFrame:
        return self.spark.createDataFrame([], self.schema).select(KIND_COLS[kind])

    def _path(self, path: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self):
        return self._path(self.root).getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

    def _read_json(self, path) -> dict:
        io = self.spark._jvm.java.io
        reader = io.BufferedReader(io.InputStreamReader(self._fs().open(path), "UTF-8"))
        try:
            return json.loads(reader.readLine())
        finally:
            reader.close()


class CrawlRun(RoundTable):
    """The round table one crawl run commits into (SURVEY.md §1.3);
    ``spans_type`` is the corpus's ``spans`` column type."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        spans_type: T.DataType,
        catalog: str | None = None,
    ):
        super().__init__(spark, root, "rounds", round_schema(spans_type), catalog)


def write_bucketed_corpus(
    docs: DataFrame, name: str, buckets: int = 64, sort: bool = True
) -> DataFrame:
    """Register the fetch corpus as a parquet table bucketed (and sorted)
    on ``doc_id`` — the co-located-join layout for the crawl's J1 fetch
    join at 100 TB: the corpus side of ``frontier JOIN corpus ON
    url = doc_id`` is read in bucket order with NO exchange; only the
    (much smaller) frontier shuffles into the bucket partitioning.  Any
    repeated-scan workload (multi-crawl fleets over one corpus snapshot)
    amortizes the one-time bucketing write across every subsequent round
    of every crawl.

    Pass the returned table handle (or ``spark.table(name)``) as ``docs``
    to ``crawl()`` — Catalyst picks up the bucket spec automatically; no
    engine changes needed.  Bucket count should match (or divide) the
    session's shuffle partitioning at scale.  (Iceberg deployments express
    the same layout as a bucket-partitioned table; this writer covers the
    parquet/catalog-less sandbox.)"""
    spark = docs.sparkSession
    if "." in name:
        # a qualified name (db.tbl) lives at <db>.db/<tbl>, not
        # warehouse/<name> — the orphan-cleanup below would compute the
        # wrong path and silently skip it; reject rather than mis-clean
        # (round-2 advice)
        raise ValueError(
            "write_bucketed_corpus takes an unqualified table name "
            f"(got {name!r}); set the database via spark.catalog first"
        )
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # an orphaned managed-table location (crashed earlier write, catalog
    # lost across sessions) blocks CREATE: clear it
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    wh_path = wh.path or wh.netloc
    if wh.scheme in ("", "file") and wh_path:
        # empty warehouse conf would make the rmtree cwd-relative — skip
        import shutil

        shutil.rmtree(os.path.join(wh_path, name.lower()), ignore_errors=True)
    w = docs.write.mode("overwrite").format("parquet").bucketBy(buckets, "doc_id")
    if sort:
        w = w.sortBy("doc_id")
    w.saveAsTable(name)
    return spark.table(name)
