"""The serving tests again, on parquet copies of the LEXam fixture.

``tests/test_serving.py`` builds its tables with ``createDataFrame``,
which are not file scans, so ``operators.partitioning.narrow`` leaves
them alone.  Served tables are parquet scans in practice, so every
expectation of that module is re-collected here against parquet copies
of the same rows — the single-partition plans must give the same
answers — plus the plan-shape and codegen-cache checks that only hold
on the narrowed path.
"""

from __future__ import annotations

import re

import pytest

from lexam_data_pipeline_spark import serving
from tests import test_serving
from tests.lexam_data import lexam_tables

# re-collect every test of test_serving.py under this module's ``t``
globals().update(
    {name: fn for name, fn in vars(test_serving).items() if name.startswith("test_")}
)


@pytest.fixture(scope="module")
def t(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lexam_parquet")
    out = {}
    for name, df in lexam_tables(spark).items():
        df.write.parquet(str(root / name))
        out[name] = spark.read.parquet(str(root / name))
    return out


@pytest.mark.parametrize(
    "kw",
    [
        dict(fc={"area": ["Public"]}, sort_by="year"),
        dict(fc={"config": ["open_question"]}, search="seven", sort_by="config"),
    ],
    ids=["filter", "variant_filter_search"],
)
def test_narrowed_questions_page_has_no_shuffle(spark, t, kw):
    page = serving.questions_page(t["questions"], t["variants"], **kw)
    # the printed plan includes the persisted base's cached plan;
    # ShuffleExchangeExec prints as "Exchange <partitioning>"
    plan = page.rows._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce 1" in plan
    assert not re.findall(r"(?<![A-Za-z])Exchange ", plan), plan


def test_serving_cycle_reuses_compiled_classes(spark, t):
    """One request cycle generates more whole-stage classes (~136 here)
    than Spark's default codegen cache (100) holds, so at the default
    the second identical cycle recompiled most of them; the session
    factory's cache must keep the whole cycle.  The cycle leaves out the
    endpoints that persist a frame (a cached input's runtime statistics
    may legitimately re-plan a repeat call) and stats_by_question (its
    generated code varies between identical calls)."""
    q, v, a, j = t["questions"], t["variants"], t["answers"], t["judgments"]

    def cycle():
        serving.filter_facets(q, v, {"language": ["en"]})
        serving.get_question(q, v, "q1").collect()
        serving.top_courses_for_search(q, v, "recht").collect()
        for df in serving.corpus_stats(q, v).values():
            df.collect()
        for df in serving.search_summary(q, v, "recht").values():
            df.collect()
        serving.course_summary(q, v).collect()
        serving.compare_judges(a, j, experiment_id=1).collect()
        serving.breakdown_by_field(a, j, v, q, experiment_id=1, field="area").collect()
        serving.judge_summary(a, j, 1).collect()

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    cycle()
    before = compiles.getCount()
    cycle()
    assert compiles.getCount() == before
