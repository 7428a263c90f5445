"""Regression tests for the round-3 code-review findings: degenerate
inputs that raised under ANSI mode (divisions by zero the DuckDB oracle
nulls), streaming intra-batch duplicates, snapshot DELETE semantics,
and multimodal fake-mode resilience to malformed sniffable payloads."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _write_docs(tmp_path, name, rows):
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    (tmp_path / name).mkdir()
    df.to_parquet(str(tmp_path / name / "documents.parquet"))
    return str(tmp_path / name)


def _write_events(tmp_path, name, rows):
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df["ts"] = pd.to_datetime(df["ts"])
    (tmp_path / name).mkdir()
    df.to_parquet(str(tmp_path / name / "events.parquet"))
    return str(tmp_path / name)


class TestAnsiDivisionGuards:
    def test_score_normalize_zero_variance_source(self, spark, tmp_path):
        from lexam_data_pipeline_spark.plans.fixture_queries import q_score_normalize

        path = _write_docs(
            tmp_path,
            "zv",
            [(1, "a", "en", "flat", 10), (2, "b", "en", "flat", 10),
             (3, "c", "en", "solo", 7)],
        )
        rows = {r["doc_id"]: r for r in q_score_normalize(spark, path).collect()}
        assert rows[1]["z_score"] is None  # zero variance → NULL, no crash
        assert rows[3]["z_score"] is None  # single-doc source

    def test_pr_curve_no_positives(self, spark, tmp_path):
        from lexam_data_pipeline_spark.plans.fixture_queries import q_pr_curve

        path = _write_events(
            tmp_path, "nopos", [(1, "2024-01-05", 1, "view", 100.0, "{}")]
        )
        rows = q_pr_curve(spark, path).collect()
        assert all(r["recall"] is None for r in rows)  # 0/0 → NULL

    def test_time_decay_future_event_clamped(self, spark, tmp_path):
        from lexam_data_pipeline_spark.plans.fixture_queries import q_time_decay

        path = _write_events(
            tmp_path, "future", [(1, "2024-02-10", 1, "view", 10.0, "{}")]
        )
        row = q_time_decay(spark, path).collect()[0]
        # age clamps to 0 → full weight, not 1/0 or a negative weight
        assert row["decayed_value"] == pytest.approx(10.0, abs=1e-3)

    def test_kappa_homogeneous_labels(self, spark, tmp_path):
        from lexam_data_pipeline_spark.plans.fixture_queries import q_judge_agreement

        path = _write_docs(
            tmp_path, "homo", [(1, "the cat is big", "en", "s", 10),
                               (2, "the dog is old", "en", "s", 10)],
        )
        row = q_judge_agreement(spark, path).collect()[0]
        assert row["observed_agreement"] == 1.0
        assert row["kappa"] is None  # pe=1 → undefined, not 0/0

    def test_char_class_all_empty_text(self, spark, tmp_path):
        from lexam_data_pipeline_spark.plans.fixture_queries import q_char_class_stats

        path = _write_docs(tmp_path, "empty", [(1, "", "void", "s", 0)])
        row = q_char_class_stats(spark, path).collect()[0]
        assert row["alpha_ratio"] is None
        assert row["class_gini"] is None


class TestSnapshotSemantics:
    def test_delete_where_retains_null_predicate_rows(self, spark, tmp_path):
        from lexam_data_pipeline_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, str(tmp_path / "nulls"))
        t.write(
            spark.createDataFrame(
                [(1, "a"), (None, "b"), (2, "c")], "id long, val string"
            )
        )
        t.delete_where(F.col("id") == 1)
        vals = sorted(r["val"] for r in t.read().collect())
        assert vals == ["b", "c"]  # the NULL-id row survives, like SQL DELETE

    def test_vacuum_zero_removes_everything_consistently(self, spark, tmp_path):
        from lexam_data_pipeline_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, str(tmp_path / "vac0"))
        t.write(spark.createDataFrame([(1, "a")], "id long, val string"))
        t.write(spark.createDataFrame([(2, "b")], "id long, val string"))
        removed = t.vacuum(keep_last=0)
        assert len(removed) == 2  # every data dir unlinked, none orphaned
        assert t.versions() == []


class TestStreamingIntraBatchDuplicates:
    def test_bm25_index_single_trigger_duplicates(self, spark, sf_small, tmp_path_factory, state_store):
        from lexam_data_pipeline_spark.catalog import load_table
        from tests.test_streaming_retrieval import _drain

        chunk_dir = str(tmp_path_factory.mktemp("dup_one_trigger"))
        docs = load_table(spark, sf_small, "documents").limit(20)
        # both copies land in ONE parquet dir; with maxFilesPerTrigger=1
        # per file, write them as one file so a single trigger sees dups
        docs.unionAll(docs).coalesce(1).write.mode("append").parquet(chunk_dir)
        index = state_store()
        _drain(spark, chunk_dir, index.read, index.write)
        assert index.read("stats").collect()[0]["n_docs"] == 20  # not 40
        tf = index.read("postings").groupBy("doc_id", "term").count()
        assert tf.filter(F.col("count") > 1).count() == 0

    def test_ivf_ingest_single_trigger_duplicates(self, spark, sf_small, tmp_path_factory, state_store):
        from lexam_data_pipeline_spark.catalog import load_table
        from lexam_data_pipeline_spark.ml.ivf import build_ivf_index
        from tests.test_streaming_ann import _drain

        emb = load_table(spark, sf_small, "embeddings").limit(20)
        _, centroids = build_ivf_index(emb, k=4, iterations=1)
        chunk_dir = str(tmp_path_factory.mktemp("vec_dup_trigger"))
        emb.unionAll(emb).coalesce(1).write.mode("append").parquet(chunk_dir)
        holder = _drain(spark, chunk_dir, centroids, state_store())
        vec_ids = [r["vec_id"] for r in holder.rows["assignments"]]
        assert len(vec_ids) == len(set(vec_ids)) == 20


class TestMultimodalMalformedPayloads:
    def test_fake_mode_survives_corrupt_sniffable_payloads(self, spark):
        from lexam_data_pipeline_spark.ml.multimodal import extract_features

        rows = [
            (1, b"P6 not really a ppm header", "image", None, None, 26),
            (2, b"RIFF0000WAVEtruncated", "audio", None, None, 21),
        ]
        media = spark.createDataFrame(
            rows,
            "media_id long, payload binary, media_type string, "
            "width int, height int, n_bytes long",
        )
        feats = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
        assert len(feats[1]) == 8  # degraded to the deterministic fake
        assert len(feats[2]) == 8

    def test_strict_mode_still_raises_on_corrupt(self, spark):
        from lexam_data_pipeline_spark.ml.multimodal import extract_features

        media = spark.createDataFrame(
            [(1, b"P6 corrupt", "image", None, None, 10)],
            "media_id long, payload binary, media_type string, "
            "width int, height int, n_bytes long",
        )
        with pytest.raises(Exception):
            extract_features(media, deterministic_fake=False).collect()

    def test_resize_fake_mode_survives_corrupt_ppm(self, spark):
        from lexam_data_pipeline_spark.ml.multimodal import resize_media

        media = spark.createDataFrame(
            [(1, b"P6 corrupt header", "image", 4, 4, 17)],
            "media_id long, payload binary, media_type string, "
            "width int, height int, n_bytes long",
        )
        out = resize_media(media, 2, 2).collect()
        assert len(out) == 1  # degraded to proportional fake, no crash


@pytest.mark.slowsuite
class TestSingleRowFuzz:
    """All queries must survive single-row tables (the n=1 degenerate
    that breaks sample-variance denominators)."""

    @pytest.fixture(scope="class")
    def one_row_sf_dir(self, tmp_path_factory) -> str:
        import duckdb
        from lexam_data_pipeline_spark.catalog import FIXTURE_TABLES

        d = tmp_path_factory.mktemp("sf_one")
        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('/root/testdata/sf0.001/{t}.parquet')"
                f" LIMIT 1) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        return str(d)

    def test_corr_stats_single_row_nulls(self, spark, one_row_sf_dir):
        from lexam_data_pipeline_spark.plans.fixture_queries import q_corr_stats

        row = q_corr_stats(spark, one_row_sf_dir).collect()[0]
        assert row["n_items"] == 1
        assert row["corr_qty_price"] is None  # undefined, not 0/0
        assert row["stddev_qty"] is None

    def test_every_query_survives_single_rows(self, spark, one_row_sf_dir):
        from lexam_data_pipeline_spark.plans.registry import build_queries

        failures = []
        for key, fn in build_queries().items():
            try:
                fn(spark, one_row_sf_dir).collect()
            except Exception as exc:  # noqa: BLE001 — collecting evidence
                failures.append(f"{key}: {type(exc).__name__}")
        assert not failures, failures


class TestRound5ReviewFindings:
    """Regression pins for the round-5 /code-review findings: NULL
    category keys, monoculture grids, and negative spine months."""

    @staticmethod
    def _clone_sf(dest, overrides: dict) -> str:
        """Clone sf0.001 into ``dest`` applying per-table SELECT
        overrides — one helper for every degenerate-world fixture."""
        import duckdb

        from lexam_data_pipeline_spark.catalog import FIXTURE_TABLES

        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            src = f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
            sel = overrides.get(t, "SELECT *").replace("{src}", src)
            con.execute(
                f"COPY ({sel} FROM {src}) TO '{dest}/{t}.parquet'"
                " (FORMAT PARQUET)"
            )
        return str(dest)

    @pytest.fixture(scope="class")
    def null_source_sf_dir(self, tmp_path_factory) -> str:
        """documents with a NULL source and a NULL lang row."""
        return self._clone_sf(
            tmp_path_factory.mktemp("sf_nullsrc"),
            {
                "documents": "SELECT doc_id, text,"
                " CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,"
                " CASE WHEN doc_id % 5 = 0 THEN NULL ELSE source END AS source,"
                " n_chars"
            },
        )

    def test_grid_keys_hash_match_oracle_under_null_categories(
        self, spark, null_source_sf_dir
    ):
        """The contingency-grid family must stay ORACLE-EQUAL on a
        NULL-category corpus, not merely survive it: both engines now
        exclude NULL categories explicitly (the oracle's grid joins
        silently dropped them while the engine counted them — second
        round-5 review pass)."""
        from lexam_data_pipeline_spark import testing
        from lexam_data_pipeline_spark.plans.registry import (
            build_oracles,
            build_queries,
        )

        queries, oracles = build_queries(), build_oracles()
        con = testing.duckdb_connection(null_source_sf_dir)
        for key in (
            "q_chi_square",
            "q_cramers_v",
            "q_mutual_information",
            "q_js_divergence",
            "q_shannon_diversity",
        ):
            result = testing.compare_query(
                spark, con, key, queries[key], oracles[key], null_source_sf_dir
            )
            assert result.ok, (key, result)

    def test_diversity_keeps_null_group(self, spark, null_source_sf_dir):
        """q_shannon_diversity treats NULL source as a group on BOTH
        engines (GROUP BY keeps NULL) — asserted above by oracle
        equality; here pin that the NULL group actually exists."""
        from lexam_data_pipeline_spark.plans.fixture_queries import (
            q_shannon_diversity,
        )

        rows = q_shannon_diversity(spark, null_source_sf_dir).collect()
        assert any(r["source"] is None for r in rows)

    def test_cramers_v_monoculture_emits_row_with_null_v(self, spark, tmp_path):
        """Single-lang corpus: one output row, chi2 0, dof 0, V NULL —
        matching the oracle instead of the old zero-row early return."""
        from lexam_data_pipeline_spark.plans.fixture_queries import q_cramers_v

        d = tmp_path / "mono"
        d.mkdir()
        self._clone_sf(
            d, {"documents": "SELECT doc_id, text, 'de' AS lang, source, n_chars"}
        )
        rows = q_cramers_v(spark, str(d)).collect()
        assert len(rows) == 1
        assert rows[0]["chi2"] == 0.0
        assert rows[0]["dof"] == 0
        assert rows[0]["cramers_v"] is None

    def test_price_elasticity_survives_negative_month(self, spark, tmp_path):
        """A month whose total quantity is negative (returns-heavy) must
        be dropped, not crash math.log."""
        from lexam_data_pipeline_spark.plans.fixture_queries import (
            q_price_elasticity,
        )

        d = tmp_path / "neg"
        d.mkdir()
        self._clone_sf(
            d,
            {
                "lineitem": "SELECT l_orderkey, l_partkey, l_suppkey,"
                " l_linenumber,"
                " CASE WHEN date_trunc('month', l_shipdate)"
                "   = (SELECT min(date_trunc('month', l_shipdate)) FROM {src})"
                " THEN -l_quantity ELSE l_quantity END AS l_quantity,"
                " l_extendedprice, l_discount, l_tax, l_returnflag,"
                " l_linestatus, l_shipdate"
            },
        )
        row = q_price_elasticity(spark, str(d)).collect()[0]
        assert row["n_months"] >= 1

    def test_price_elasticity_all_months_filtered_is_one_null_row(
        self, spark, tmp_path
    ):
        """Every month non-positive → ONE (0, NULL, NULL) row, exactly
        like the oracle's aggregate over an empty terms CTE (second
        round-5 review pass)."""
        from lexam_data_pipeline_spark.plans.fixture_queries import (
            q_price_elasticity,
        )

        d = tmp_path / "allneg"
        d.mkdir()
        self._clone_sf(
            d,
            {
                "lineitem": "SELECT l_orderkey, l_partkey, l_suppkey,"
                " l_linenumber, -l_quantity AS l_quantity, l_extendedprice,"
                " l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
            },
        )
        rows = q_price_elasticity(spark, str(d)).collect()
        assert len(rows) == 1
        assert rows[0]["n_months"] == 0
        assert rows[0]["elasticity"] is None
        assert rows[0]["intercept"] is None


class TestRound6Advice:
    """Pins for the round-6 ADVICE items: empty-grid oracle parity for
    the chi-square family, duplicate-vec_id semantics shared by both
    boosted-stumps doors, and the _d18 magnitude ceiling."""

    @staticmethod
    def _copy_world(dest, full_selects: dict) -> str:
        """Clone sf0.001 into ``dest``; ``full_selects`` values are
        COMPLETE SELECT statements with a ``{src}`` placeholder (unlike
        _clone_sf's fragments, these may carry WHERE/UNION clauses)."""
        import duckdb

        from lexam_data_pipeline_spark.catalog import FIXTURE_TABLES

        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            src = f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
            sel = full_selects.get(t, "SELECT * FROM {src}").replace("{src}", src)
            con.execute(f"COPY ({sel}) TO '{dest}/{t}.parquet' (FORMAT PARQUET)")
        return str(dest)

    def _compare(self, spark, sf_dir, key):
        from lexam_data_pipeline_spark import testing
        from lexam_data_pipeline_spark.plans.registry import (
            build_oracles,
            build_queries,
        )

        queries, oracles = build_queries(), build_oracles()
        con = testing.duckdb_connection(sf_dir)
        return testing.compare_query(
            spark, con, key, queries[key], oracles[key], sf_dir
        )

    def test_chi_square_family_empty_corpus_is_oracle_equal(
        self, spark, tmp_path
    ):
        """EMPTY input → ZERO rows on BOTH engines: the oracles carry
        HAVING/WHERE guards so their ungrouped aggregates over the empty
        grid can't emit a stray (NULL, 1, NULL, ...) row while the engine
        early-returns empty (round-6 advice)."""
        d = tmp_path / "empty"
        d.mkdir()
        self._copy_world(
            d,
            {
                "documents": "SELECT * FROM {src} WHERE false",
                "orders": "SELECT * FROM {src} WHERE false",
            },
        )
        for key in ("q_chi_square", "q_cramers_v", "q_mutual_information"):
            result = self._compare(spark, str(d), key)
            assert result.ok, (key, result)
            assert result.spark_rows == 0, key

    def test_boosted_stumps_duplicate_vec_ids_oracle_equal(
        self, spark, tmp_path
    ):
        """An all-duplicates embeddings corpus (every row twice) trains
        on each vector counted ONCE on both engines — the oracle now
        applies the same (vec_id, y, f) → min(bin) collapse as the
        engine, and the result equals the unique-corpus answer."""
        from lexam_data_pipeline_spark.ml.boost import q_boosted_stumps

        d = tmp_path / "dup"
        d.mkdir()
        self._copy_world(
            d,
            {
                "embeddings": "SELECT * FROM {src}"
                " UNION ALL SELECT * FROM {src}"
            },
        )
        result = self._compare(spark, str(d), "q_boosted_stumps")
        assert result.ok, result
        base = [
            tuple(r)
            for r in q_boosted_stumps(spark, "/root/testdata/sf0.001")
            .orderBy("round")
            .collect()
        ]
        dup = [
            tuple(r)
            for r in q_boosted_stumps(spark, str(d)).orderBy("round").collect()
        ]
        assert base == dup

    def test_boosted_stumps_conflicting_duplicates_oracle_equal(
        self, spark, tmp_path
    ):
        """CONFLICTING duplicates (same vec_id, reversed embedding) are
        the only case where the min-bin tie rule can bite — identical
        duplicates give min == max == the one bin, so the first test
        alone could not catch an engine/oracle collapse divergence
        (e.g. a min→max drift; round-6 review finding)."""
        d = tmp_path / "conflict"
        d.mkdir()
        self._copy_world(
            d,
            {
                "embeddings": "SELECT * FROM {src} UNION ALL"
                " SELECT vec_id, list_reverse(embedding) AS embedding,"
                " label FROM {src}"
            },
        )
        result = self._compare(spark, str(d), "q_boosted_stumps")
        assert result.ok, result


class TestD18Ceiling:
    """_d18's cast ceiling is 1e18 (cast overflow → silent NULL in
    non-ANSI mode).  Assert the sf0.1 maxima of each operand family so a
    future reuse on a larger-magnitude column trips a test, not a silent
    drop (round-6 advice)."""

    SF = "/root/testdata/sf0.1"

    def test_rank_and_count_operands_far_below_ceiling(self, spark):
        from lexam_data_pipeline_spark.catalog import load_table

        n = load_table(spark, self.SF, "lineitem").count()
        # doubled average ranks are ≤ 2n+1; cumulative counts ≤ n
        assert 2 * n + 1 < 1e15

    def test_daily_cents_operand_below_ceiling(self, spark):
        from lexam_data_pipeline_spark.catalog import load_table

        daily_max = (
            load_table(spark, self.SF, "orders")
            .groupBy(F.date_trunc("day", "o_orderdate"))
            .agg(
                (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
                .cast("bigint")
                .alias("cents")
            )
            .agg(F.max("cents"))
            .collect()[0][0]
        )
        # linear in SF: 1e12 here would already be 1e18 at sf1e5 — keep
        # ~6 orders of fixture-scale headroom for the 100 TB budget
        assert daily_max < 1e12


class TestD12Ceiling:
    """_d12 backs TRIPLE products (d12·d12·d12 lands exactly at the
    38-digit cap), so each operand must stay below 1e12.  Assert the
    sf0.1 maxima of the triple-product operand families so a future
    reuse on a larger-magnitude column trips a test, not a silent NULL
    drop (round-7 review; the _d18 pattern above)."""

    SF = "/root/testdata/sf0.1"

    def test_cent_values_far_below_ceiling(self, spark):
        """q_welch_ttest / q_ab_power multiply per-value cents twice:
        the largest single order in cents must clear 1e12 with wide
        margin (order values don't grow with corpus size)."""
        from lexam_data_pipeline_spark.catalog import load_table

        max_cents = (
            load_table(spark, self.SF, "orders")
            .agg(
                F.max(
                    (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                        "bigint"
                    )
                )
            )
            .collect()[0][0]
        )
        assert max_cents < 1e9  # 3 orders of headroom, SF-invariant

    def test_per_customer_era_cents_below_ceiling(self, spark):
        """q_cuped_adjustment multiplies per-customer era totals: the
        largest pre/post total must clear 1e12.  Grows with orders per
        customer (bounded), not with customer count."""
        from lexam_data_pipeline_spark.catalog import load_table

        cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
            "bigint"
        )
        m = (
            load_table(spark, self.SF, "orders")
            .groupBy("o_custkey")
            .agg(F.sum(cents).alias("t"))
            .agg(F.max("t"))
            .collect()[0][0]
        )
        assert m < 1e10  # 2 orders of headroom vs the 1e12 operand cap
