"""``catalog.local_rows``: driver-built rows become a JVM ``LocalRelation``
with the declared schema and the same values as ``createDataFrame(list)``,
whatever the session's Arrow setting — and no engine module goes back to
the Python-RDD list path."""

from __future__ import annotations

import ast
import datetime
import math
import os
import time
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    _parse_datatype_string,
)

from lexam_data_pipeline_spark.catalog import local_rows
from lexam_data_pipeline_spark.model import EXPERIMENTS_SCHEMA, VARIANTS_SCHEMA

PACKAGE = Path(__file__).resolve().parent.parent / "lexam_data_pipeline_spark"

NESTED = StructType(
    [
        StructField("id", LongType(), False),
        StructField("x", DoubleType(), True),
        StructField("xs", ArrayType(DoubleType()), True),
        StructField(
            "st",
            StructType(
                [StructField("p", IntegerType(), True), StructField("q", StringType(), True)]
            ),
            True,
        ),
        StructField("m", MapType(StringType(), LongType()), True),
        StructField("ts", TimestampType(), True),
    ]
)

NAIVE = datetime.datetime(2021, 7, 3, 12, 30, 5, 123456)
NESTED_ROWS = [
    (1, float("nan"), [1.0, None, 2.5], (3, "z"), {"k": 4}, NAIVE),
    (2, None, None, None, None, None),
    (3, 1.5, [], {"p": 1, "q": None}, {}, datetime.datetime(1999, 12, 31, 23, 59, 59)),
]


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def session(spark, request):
    """The test session with ``spark.sql.execution.arrow.pyspark.enabled``
    set each way (the driver's vanilla session leaves it off)."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield spark
    spark.conf.set(key, before)


def _root(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_plan_root_is_local_relation_and_building_runs_no_job(session):
    sc = session.sparkContext
    sc.setJobGroup("local-rows-build", "local-rows-build")
    try:
        df = local_rows(session, NESTED_ROWS, NESTED)
    finally:
        sc.setJobGroup(None, None)
    assert not (sc.statusTracker().getJobIdsForGroup("local-rows-build") or [])
    assert _root(df) == "LocalRelation"
    assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == (
        "LocalRelation"
    )


def test_schema_is_the_declared_struct_type(session):
    df = local_rows(session, NESTED_ROWS, NESTED)
    assert df.schema == NESTED
    assert not df.schema["id"].nullable
    for schema in (EXPERIMENTS_SCHEMA, VARIANTS_SCHEMA):
        assert local_rows(session, [], schema).schema == schema


def test_ddl_string_schema(session):
    ddl = "w: int, word: bigint"
    df = local_rows(session, [(0, 5), (3, None)], ddl)
    assert df.schema == _parse_datatype_string(ddl)
    assert df.collect() == session.createDataFrame([(0, 5), (3, None)], ddl).collect()


def test_empty_list_gives_empty_frame_that_prunes_joins(session):
    empty = local_rows(session, [], "k long, v string")
    assert empty.count() == 0
    assert _root(empty) == "LocalRelation"
    probe = session.range(5).withColumnRenamed("id", "k")
    anti = probe.join(empty, "k", "left_anti")
    # the optimizer drops the join against an empty LocalRelation
    assert "Join" not in anti._jdf.queryExecution().optimizedPlan().toString()
    assert anti.count() == 5
    inner = probe.join(empty, "k")
    assert inner._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == (
        "LocalRelation"
    )


def test_values_match_the_list_path(session):
    got = local_rows(session, NESTED_ROWS, NESTED).collect()
    want = session.createDataFrame(NESTED_ROWS, NESTED).collect()
    assert repr(got) == repr(want)  # not ==: NaN != NaN, but the reprs match
    assert math.isnan(got[0]["x"])
    assert got[1]["x"] is None and got[1]["xs"] is None and got[1]["st"] is None


def test_numpy_scalars_match_python_values(session):
    # the list path rejects numpy scalars outright; the helper accepts them
    # and stores the same values their Python twins give
    ddl = "n long, x double, i int, b boolean, xs array<double>"
    np_rows = [(np.int64(3), np.float64(2.5), np.int32(4), np.bool_(True), np.array([1.0, 2.0]))]
    py_rows = [(3, 2.5, 4, True, [1.0, 2.0])]
    got = local_rows(session, np_rows, ddl).collect()
    assert got == session.createDataFrame(py_rows, ddl).collect()


def test_experiment_and_variant_rows_match_the_list_path(session):
    exp = (
        7, "e", '{"area": ["x"]}', "m", "o", "j", "s", "model",
        0.0, 64, None, None, 2, "created", NAIVE, None,
    )
    got = local_rows(session, [exp], EXPERIMENTS_SCHEMA).collect()
    assert got == session.createDataFrame([exp], EXPERIMENTS_SCHEMA).collect()
    var = (11, "q1", "mcq_4_choices", "test", ["a", None], None, "B")
    got = local_rows(session, [var], VARIANTS_SCHEMA).collect()
    assert got == session.createDataFrame([var], VARIANTS_SCHEMA).collect()


@pytest.mark.parametrize("tz", ["America/New_York", "Asia/Kolkata"])
def test_naive_datetimes_are_the_same_instants(session, tz):
    """Naive ``datetime`` values are local time on both paths, so they
    land on the same instant whatever the process ``TZ``."""
    saved = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        rows = [(NAIVE,), (datetime.datetime(2024, 3, 10, 1, 0, 0),), (None,)]
        micros = F.unix_micros("ts").alias("us")
        got = local_rows(session, rows, "ts timestamp").select(micros).collect()
        want = session.createDataFrame(rows, "ts timestamp").select(micros).collect()
        assert got == want
        assert got[0]["us"] != int(
            NAIVE.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
        )  # TZ really is non-UTC: the instant is not the UTC reading
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()


def test_no_list_create_data_frame_in_engine():
    """Every driver-built frame goes through ``local_rows``: the text
    ``createDataFrame(`` appears in the engine only inside the helper and
    in the Arrow-table ingestion of ``sources/huggingface.py``."""
    catalog = PACKAGE / "catalog.py"
    helper = next(
        n
        for n in ast.parse(catalog.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_rows"
    )
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "sources/huggingface.py":
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), start=1):
            if "createDataFrame(" not in line:
                continue
            if path == catalog and helper.lineno <= lineno <= helper.end_lineno:
                continue
            offenders.append(f"{rel}:{lineno}")
    assert not offenders, f"use catalog.local_rows instead of createDataFrame: {offenders}"
