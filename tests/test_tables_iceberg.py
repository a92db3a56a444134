"""Iceberg-branch contract tests (plans/tables.RoundTable with catalog=).

No Iceberg jars exist in this sandbox, so the branch is exercised by
stubbing ``DataFrame.writeTo``/``SparkSession.table`` and asserting the
calls the deployment path would make: ``overwritePartitions()`` of the
round's rows and then of its one log row, both against the qualified
``<catalog>.<table>`` identifier; create-on-missing with
``using("iceberg").partitionedBy("round", "kind")`` only when the table
is missing (any other failure re-raises); reads via
``spark.table(<catalog>.<table>)`` that keep committed rounds only; and
the unconfigured-catalog guard."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from eget_spark.plans.tables import RoundTable, kind_rows, round_schema

_SPANS = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)


class _WriterStub:
    """Records the writeTo fluent chain; ``fail_with`` (a message
    template) fails every write until a create: the table-does-not-exist
    case, or any other catalog failure."""

    def __init__(self, log, full, df, fail_with, frames):
        self.log = log
        self.frames = frames
        self.full = full
        self.df = df
        self.fail_with = fail_with
        self.using_fmt = None
        self.partition_cols = None

    def overwritePartitions(self):
        if self.fail_with and not any(op == "create" for op, *_ in self.log):
            self.log.append(("overwrite_failed", self.full))
            raise RuntimeError(self.fail_with.format(full=self.full))
        self.log.append(("overwritePartitions", self.full, sorted(self.df.columns)))
        self.frames.append(self.df)

    def using(self, fmt):
        self.using_fmt = fmt
        return self

    def partitionedBy(self, *cols):
        self.partition_cols = cols
        return self

    def create(self):
        self.log.append(
            ("create", self.full, self.using_fmt, self.partition_cols)
        )


@pytest.fixture
def cat(spark):
    """A configured-but-fake catalog name (the gate checks only that the
    session has the conf key)."""
    spark.conf.set("spark.sql.catalog.egetcat", "stub.Catalog")
    yield "egetcat"
    spark.conf.unset("spark.sql.catalog.egetcat")


_MISSING = "[TABLE_OR_VIEW_NOT_FOUND] The table or view `{full}` cannot be found."


def _stub_write(spark, monkeypatch, log, fail_with=None):
    frames = []

    def write_to(self, full):
        return _WriterStub(log, full, self, fail_with, frames)

    # patch the CONCRETE DataFrame class (pyspark 4: classic.dataframe)
    cls = type(spark.range(1))
    monkeypatch.setattr(cls, "writeTo", write_to)
    return frames


def _table(spark, cat, tmp_path):
    return RoundTable(spark, str(tmp_path), "rounds", round_schema(_SPANS), cat)


def _pending(spark, t):
    df = spark.createDataFrame(
        [("u1", "h", 1, None, 7)],
        "url string, host string, depth int, parent_url string, seq long",
    )
    return kind_rows(t.schema, df, "pending")


def test_unconfigured_catalog_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="not configured"):
        RoundTable(spark, str(tmp_path), "rounds", round_schema(_SPANS), "nope")


def test_append_targets_qualified_identifier(spark, cat, tmp_path, monkeypatch):
    log = []
    frames = _stub_write(spark, monkeypatch, log)
    t = _table(spark, cat, tmp_path)
    got = t.append(_pending(spark, t), round_no=3, log=lambda: {"round": 3, "n": 1})
    assert got == {"round": 3, "n": 1}
    cols = sorted(round_schema(_SPANS).fieldNames() + ["kind", "log", "round"])
    # the round's rows, then its one log row: both overwrite partitions of
    # the qualified table, and both carry the round lineage column
    assert log == [
        ("overwritePartitions", "egetcat.rounds", cols),
        ("overwritePartitions", "egetcat.rounds", cols),
    ]
    (row,) = frames[0].collect()
    got_row = (row["url"], row["kind"], row["round"], row["log"])
    assert got_row == ("u1", "pending", 3, None)
    (marker,) = frames[1].collect()
    assert (marker["kind"], marker["round"], marker["url"]) == ("log", 3, None)
    assert json.loads(marker["log"]) == {"round": 3, "n": 1}


def test_first_append_creates_round_partitioned_iceberg(
    spark, cat, tmp_path, monkeypatch
):
    log = []
    _stub_write(spark, monkeypatch, log, fail_with=_MISSING)
    t = _table(spark, cat, tmp_path)
    t.append(_pending(spark, t), round_no=0, log=lambda: {"round": 0})
    assert log[0] == ("overwrite_failed", "egetcat.rounds")
    assert log[1] == ("create", "egetcat.rounds", "iceberg", ("round", "kind"))
    assert log[2][0] == "overwritePartitions"  # the log row, into the new table


def test_other_write_failure_reraises_without_create(
    spark, cat, tmp_path, monkeypatch
):
    log = []
    _stub_write(
        spark, monkeypatch, log,
        fail_with="[INSUFFICIENT_PERMISSIONS] no write access to {full}",
    )
    t = _table(spark, cat, tmp_path)
    with pytest.raises(RuntimeError, match="INSUFFICIENT_PERMISSIONS"):
        t.append(_pending(spark, t), round_no=0, log=lambda: {"round": 0})
    assert log == [("overwrite_failed", "egetcat.rounds")]


def test_reads_go_through_catalog_table(spark, cat, tmp_path, monkeypatch):
    t = _table(spark, cat, tmp_path)

    def row(url, round_no, kind, log=None):
        return (url, "h", 0, None, 0, round_no, kind, log)

    base = spark.createDataFrame(
        [
            row("u1", 0, "pending"),
            row(None, 0, "log", json.dumps({"round": 0})),
            row("u2", 1, "pending"),
            row(None, 1, "log", json.dumps({"round": 1})),
            # round 2's rows are written but its log row is not: uncommitted
            row("u3", 2, "pending"),
        ],
        "url string, host string, depth int, parent_url string, seq long, "
        "round int, kind string, log string",
    )
    asked = []

    def table(self, name):
        asked.append(name)
        return base

    monkeypatch.setattr(type(spark), "table", table)
    assert {r["url"] for r in t.read("pending").collect()} == {"u1", "u2"}
    assert {r["url"] for r in t.read_round(1, "pending").collect()} == {"u2"}
    assert "round" not in t.read_round(1, "pending").columns  # parquet parity
    assert {r["url"] for r in t.read_upto(1, "pending").collect()} == {"u1", "u2"}
    assert [r["round"] for r in t.log_rows()] == [0, 1]
    assert set(asked) == {"egetcat.rounds"}
