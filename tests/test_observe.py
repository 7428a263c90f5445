"""Pipeline audit gates (operators/observe.py): plan-integrated row
accounting with zero extra actions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.operators.observe import PipelineAudit


class TestPipelineAudit:
    def test_gate_counts_through_one_action(self, spark, sf_small):
        docs = load_table(spark, sf_small, "documents")
        audit = PipelineAudit()
        staged = audit.gate(docs, "ingest")
        kept = audit.gate(staged.filter(F.col("n_chars") >= 100), "quality")
        deduped = audit.gate(kept.dropDuplicates(["text"]), "dedup")
        deduped.write.format("noop").mode("overwrite").save()  # the ONE action

        rep = audit.report()
        n_all = docs.count()
        assert rep["ingest"]["rows"] == n_all
        assert rep["quality"]["rows"] < n_all
        assert rep["dedup"]["rows"] <= rep["quality"]["rows"]
        assert 0 < audit.retention("ingest", "dedup") <= 1.0

    def test_extra_metrics_ride_along(self, spark, sf_small):
        docs = load_table(spark, sf_small, "documents")
        audit = PipelineAudit()
        staged = audit.gate(docs, "chars", F.sum("n_chars").alias("total_chars"))
        staged.write.format("noop").mode("overwrite").save()
        rep = audit.report()
        want = docs.agg(F.sum("n_chars")).collect()[0][0]
        assert rep["chars"]["total_chars"] == want

    def test_unexecuted_gate_reports_none_not_hang(self, spark, sf_small):
        docs = load_table(spark, sf_small, "documents")
        audit = PipelineAudit()
        audit.gate(docs, "never")  # observed frame discarded, no action
        assert audit.report(timeout_s=0.3) == {"never": None}
        assert audit.retention("never", "never", timeout_s=0.3) is None

    def test_duplicate_gate_name_rejected(self, spark, sf_small):
        docs = load_table(spark, sf_small, "documents")
        audit = PipelineAudit()
        audit.gate(docs, "g")
        with pytest.raises(ValueError):
            audit.gate(docs, "g")

    def test_jobs_do_not_grow_with_gate_count(self, spark, sf_small):
        """Gates must add zero per-gate jobs: the same plan with one
        observation point and with three runs the same number of Spark
        jobs (job count varies with plan shape/AQE, never with audit
        instrumentation)."""
        sc = spark.sparkContext
        docs = load_table(spark, sf_small, "documents")
        docs.count()  # warm the file listing outside the measured groups

        def jobs_run(group, fn):
            sc.setJobGroup(group, group)
            fn()
            sc.setJobGroup(None, None)
            return len(sc.statusTracker().getJobIdsForGroup(group) or [])

        one = PipelineAudit()
        n_one = jobs_run(
            "one-gate",
            lambda: one.gate(
                docs.filter(F.col("n_chars") >= 100).dropDuplicates(["text"]), "z"
            ).write.format("noop").mode("overwrite").save(),
        )
        three = PipelineAudit()

        def observed():
            staged = three.gate(docs, "a")
            kept = three.gate(staged.filter(F.col("n_chars") >= 100), "b")
            three.gate(kept.dropDuplicates(["text"]), "c").write.format(
                "noop"
            ).mode("overwrite").save()

        assert jobs_run("three-gate", observed) == n_one
        rep = three.report()
        assert rep["a"]["rows"] > rep["c"]["rows"] > 0

    def test_degraded_path_when_private_api_gone(self):
        """If a future PySpark drops Observation._jo, report() must still
        return metrics (bounded blocking get on a daemon thread), and a
        never-completing observation must yield None by the deadline
        instead of hanging."""
        import time

        from lexam_data_pipeline_spark.operators.observe import observed_within

        class FakeObs:
            @property
            def _jo(self):
                raise AttributeError("removed in this pyspark")

            @property
            def get(self):
                return {"rows": 7}

        assert observed_within(FakeObs(), time.monotonic() + 1.0) == {"rows": 7}

        class NeverObs:
            @property
            def _jo(self):
                raise AttributeError("removed in this pyspark")

            @property
            def get(self):
                time.sleep(60)
                return {}

        t0 = time.monotonic()
        assert observed_within(NeverObs(), time.monotonic() + 0.3) is None
        assert time.monotonic() - t0 < 2.0
