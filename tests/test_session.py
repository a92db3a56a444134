"""scoped_conf: session conf changes are scoped and always restored, and
it is the only place the package writes session conf."""

from __future__ import annotations

import pathlib
import re

import pytest

from eget_spark.session import scoped_conf

KEY = "spark.sql.shuffle.partitions"
ABSENT = "spark.sql.execution.arrow.maxRecordsPerBatch"


def test_nested_scopes_restore_outer_values(spark):
    before = spark.conf.get(KEY)
    with scoped_conf(spark, {KEY: "3"}):
        assert spark.conf.get(KEY) == "3"
        with scoped_conf(spark, {KEY: "5"}):
            assert spark.conf.get(KEY) == "5"
        assert spark.conf.get(KEY) == "3"
    assert spark.conf.get(KEY) == before


def test_restores_when_body_raises(spark):
    before = spark.conf.get(KEY)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {KEY: "3"}):
            raise RuntimeError("boom")
    assert spark.conf.get(KEY) == before


def test_unset_when_previously_absent(spark):
    assert spark.conf.get(ABSENT, None) is None
    with scoped_conf(spark, {ABSENT: "1024"}):
        assert spark.conf.get(ABSENT) == "1024"
    assert spark.conf.get(ABSENT, None) is None


def test_empty_settings_is_a_no_op(spark):
    before = spark.conf.get(KEY)
    with scoped_conf(spark, {}):
        assert spark.conf.get(KEY) == before
    assert spark.conf.get(KEY) == before


def test_only_session_module_writes_session_conf():
    """Source guard: every session-conf change goes through scoped_conf, so
    no module other than session.py calls ``.conf.set(`` or
    ``.conf.unset(``."""
    import eget_spark

    root = pathlib.Path(eget_spark.__file__).parent
    pat = re.compile(r"\.conf\.(set|unset)\(")
    offenders = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if p.name != "session.py" or p.parent != root
        if pat.search(p.read_text())
    ]
    assert offenders == []
