"""The declared query contract (SURVEY.md §2.11) on the fixture tables.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names and types line up exactly with the DuckDB oracle SQL in
:mod:`lexam_data_pipeline_spark.plans.oracles` — the driver hash-compares
the two at sf0.01.

Numeric-parity rules used throughout (engine-portable determinism):

* Sums of 2-decimal money columns go through ``DECIMAL(18,2)`` so the sum
  is exact, then cast to double (exactly representable) — bit-identical
  across engines regardless of summation order.
* Averages of integers divide an exact integer sum by an exact count.
* Ratios divide exact integers.  Floating division of identical doubles is
  IEEE-deterministic, so results match bit-for-bit.
* Any per-row float reduction over arrays is a *sequential left fold* on
  both engines (``F.aggregate`` here, ``list_reduce`` in DuckDB).
* Every query feeding a LIMIT carries a unique-key tiebreak.

Scale notes are inline: broadcast hints on dimension sides, aggregate
pushdown shapes, and the documented approx-variant switches for 100 TB.

Reference citations (``/root/reference``) identify the operator family each
query realizes; see SURVEY.md §2 for the full mapping.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from lexam_data_pipeline_spark.catalog import load_table, local_rows
from lexam_data_pipeline_spark.operators.guards import collect_bounded

#: Ceiling for driver-side sufficient-statistic cell tables (category ×
#: category grids).  Fixture grids are ≤ 25 cells; 10 000 leaves room
#: for realistic segment/priority/lang/source domains while failing
#: loudly long before a mistaken domain-cardinality column (customer
#: keys, doc ids…) can OOM the driver.
_MAX_CELL_ROWS = 10_000


def _dec_sum(col: str) -> F.Column:
    """Exact sum of a 2-decimal money column, returned as double.

    ``sum(decimal)`` is exact on both Spark and DuckDB; the final cast to
    double is lossless for totals below 2**53 cents.  This sidesteps
    float-summation-order divergence between engines (and between cluster
    runs, where partition count changes the reduction tree).
    """
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


# --------------------------------------------------------------------------
# Scans / projections / filters  (SURVEY §2.1-2.2; ref main.py:72-132)
# --------------------------------------------------------------------------


def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+P1: projected table scan (ref main.py:342-344 with_entities)."""
    return load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P3: conjunctive IN-list + comparison filter (ref main.py:72-99).

    Both predicates push down to the parquet scan (check PushedFilters).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_returnflag").isin("A", "R") & (F.col("l_quantity") > 30)
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice")


def q_search_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/F1: case-insensitive substring search (ref main.py:102-114 ILIKE)."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.lower(F.col("p_name")).contains("red")).select("p_partkey", "p_name")


# --------------------------------------------------------------------------
# Joins  (SURVEY §2.3; ref main.py:107-112, services/judging.py:42-52)
# --------------------------------------------------------------------------


def q_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J6: EXISTS → left-semi join (ref main.py:107-112).

    The semi side only needs the key column, so the scan is pruned to one
    column; at scale the semi join shuffles only distinct keys.
    """
    cust = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(
        big_orders, cust.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def q_anti_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: anti-join (ref services/judging.py:42-52 skip-already-judged).

    Customers with no high-value order — filtered probe side keeps the
    result non-empty at every scale factor."""
    cust = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return cust.join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J7: set-based enrichment join replacing the reference's N+1
    point lookups (ref routers/generation.py:46-48).  Customer is the
    dimension side → broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


def q_join_3way_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7→set-based + A3: the flagship 3-way join + aggregate
    (ref experiment_stats.py:228-259 answers⋈variants⋈questions rollup).

    Shape: fact ⋈ fact shuffles on the join key; the customer dimension is
    broadcast so only one shuffle survives.  Aggregation is partial
    (map-side) before the final shuffle on c_mktsegment.
    """
    li = load_table(spark, sf_dir, "lineitem", fan=True)
    orders = load_table(spark, sf_dir, "orders", fan=True)
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            _dec_sum("l_extendedprice").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Aggregations  (SURVEY §2.4; ref main.py:225-441, experiment_stats.py)
# --------------------------------------------------------------------------


def q_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: single-key group-count (ref main.py:227-241 by_config)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


def q_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: multi-key group-count (ref main.py:369-371 year×area)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: pivot/cross-tab (ref main.py:373-379 year→area counts).

    Expressed as conditional aggregation (equivalent to
    ``groupBy().pivot()`` with a fixed value list, but keeps full control
    of output column names for the oracle)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner")
    return joined.groupBy("n_name").agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).cast("bigint").alias("status_o"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("bigint").alias("status_f"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).cast("bigint").alias("status_p"),
        F.count("*").alias("n_orders"),
    )


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: exact COUNT(DISTINCT) per group (ref main.py:382-384).

    100 TB path: switch to ``approx_count_distinct`` (HLL) — documented,
    not used here, because the oracle needs exact."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


def q_distinct_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+P6: faceting — distinct values after applying other filters
    (ref main.py:117-132 _viable_values)."""
    cust = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_semi")
        .select("c_mktsegment")
        .distinct()
    )


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: mean/median/min/max stats (ref main.py:431-441).

    Exact interpolated median via ``percentile`` for oracle parity; the
    100 TB variant is ``percentile_approx`` with a documented error bound.
    The mean divides an exact decimal sum by the count (see _dec_sum).
    """
    li = load_table(spark, sf_dir, "lineitem", fan=True)
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.round(_dec_sum("l_extendedprice") / F.count("*"), 4).alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        # Median over integer cents: interpolating between integers is exact
        # in double on every engine, so Spark and DuckDB agree bit-for-bit
        # (interpolating raw doubles differs by 1 ulp and can flip rounding).
        F.round(
            F.percentile(F.round(F.col("l_extendedprice") * 100).cast("bigint"), F.lit(0.5))
            / 100,
            2,
        ).alias("median_price"),
    )


def q_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: fixed-bin histogram (ref main.py:419-429 word-count bins).

    The CASE chain evaluates JVM-side inside whole-stage codegen; empty
    bins simply don't appear (the reference densifies client-side — the
    oracle matches this sparse shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    bin_col = (
        F.when(F.col("l_quantity") < 10, "00-09")
        .when(F.col("l_quantity") < 20, "10-19")
        .when(F.col("l_quantity") < 30, "20-29")
        .when(F.col("l_quantity") < 40, "30-39")
        .when(F.col("l_quantity") < 50, "40-49")
        .otherwise("50+")
    )
    return (
        li.withColumn("qty_bin", bin_col)
        .groupBy("qty_bin")
        .agg(F.count("*").alias("n_items"))
    )


def q_top_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-k groups by count with deterministic tiebreak
    (ref main.py:538-543 top-10 courses).  Spark turns sort+limit into
    TakeOrderedAndProject — no global sort materialization."""
    return (
        load_table(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
        .orderBy(F.desc("n_parts"), F.asc("p_brand"))
        .limit(10)
    )


def q_min_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/W1: scalar-subquery-as-sort-key → group-min joined back
    (ref main.py:137-148 min(config) per question)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    first = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_order_date"))
    return first.join(F.broadcast(cust), first.o_custkey == cust.c_custkey, "inner").select(
        "c_custkey", "c_name", "first_order_date"
    )


def q_unanimity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: self-consistency unanimity (ref experiment_stats.py:262-284:
    all N answers per variant identical).  Realized on orders: among
    customers with ≥2 orders, the share whose orders all have one status.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("o_orderstatus").alias("d"),
        )
        .filter(F.col("n") >= 2)
    )
    return per_cust.agg(
        F.count("*").alias("total_customers"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("bigint").alias("unanimous_customers"),
        F.round(
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)) / F.count("*"), 4
        ).alias("unanimity_rate"),
    )


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/A12: filtered aggregation + ratio (ref main.py:347-354 per-course
    language counts; experiment_stats.py:31-35 accuracy)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    urgent = F.sum(F.when(F.col("o_orderpriority").like("1-%"), 1).otherwise(0))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            urgent.cast("bigint").alias("urgent_orders"),
            F.round(urgent / F.count("*"), 4).alias("urgent_ratio"),
        )
    )


def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15/W2: share-of-total percentages (ref main.py:385 split pct).

    Uses an empty-frame window sum; at scale this is a 2-stage agg with a
    scalar broadcast, which AQE handles (group cardinality is tiny)."""
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )
    total = F.sum("n_orders").over(Window.partitionBy())
    return counts.withColumn("share", F.round(F.col("n_orders") / total, 4))


# --------------------------------------------------------------------------
# Sorts / pagination / set ops  (SURVEY §2.6-2.7; ref main.py:195-200)
# --------------------------------------------------------------------------


def q_sort_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2/W3: deterministic sort + offset/limit pagination
    (ref main.py:195-200: user sort, id tiebreak, offset/limit).

    ``offset().limit()`` compiles to a single-partition tail only for the
    final page assembly; page depth is capped in the serving layer exactly
    like the reference caps limit ≤ 200 (main.py:174)."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(20)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_union_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2: union + distinct (ref seed.py:68-131 config union;
    main.py:293 set-union cardinality)."""
    cust_nk = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_nk = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust_nk.unionByName(supp_nk).distinct()


# --------------------------------------------------------------------------
# Scalar-function queries  (SURVEY §2.8; ref services/letter_extract.py)
# --------------------------------------------------------------------------


def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5: regex extraction + cast (ref services/letter_extract.py:9-53)."""
    orders = load_table(spark, sf_dir, "orders")
    cls = F.nullif(F.regexp_extract(F.col("o_orderpriority"), r"^(\d)", 1), F.lit("")).cast("int")
    return (
        orders.withColumn("priority_class", cls)
        .groupBy("priority_class")
        .agg(F.count("*").alias("n_orders"))
    )


def q_wordcount_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+A7: whitespace word count stats (ref main.py:422-441).

    Matches Python ``str.split()`` semantics: any-whitespace split, empty
    string → 0 words.  Integer sums keep the averages engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    wc = F.coalesce(F.regexp_count(F.col("text"), F.lit(r"\S+")), F.lit(0))
    return (
        docs.withColumn("wc", wc)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("wc") / F.count("*"), 4).alias("avg_words"),
            F.min("wc").cast("int").alias("min_words"),
            F.max("wc").cast("int").alias("max_words"),
        )
    )


def q_substr_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: substring + cast derived column (ref seed.py:90-94 year from
    string prefix)."""
    orders = load_table(spark, sf_dir, "orders")
    year = F.substring(F.col("o_orderdate").cast("date").cast("string"), 1, 4).cast("int")
    return (
        orders.withColumn("year", year)
        .groupBy("year")
        .agg(F.count("*").alias("n_orders"))
    )


# --------------------------------------------------------------------------
# Events / streaming-shaped  (SURVEY §2.9 extension; events fixture)
# --------------------------------------------------------------------------


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate in batch form (SURVEY §7.7).

    The streaming twin (readStream + window + watermark) lives in
    :mod:`lexam_data_pipeline_spark.streaming.events`; this batch shape is
    what the oracle can check."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hour_ts", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour_ts", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _dec_sum("value").alias("total_value"),
        )
    )


def q_events_sessionless_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 analog: per-user activity stats (ref progress.py:50-55 rate
    math).  Span computed in integer microseconds for engine parity."""
    ev = load_table(spark, sf_dir, "events")
    span_us = F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        # explicit floor: DuckDB's double→bigint cast rounds, Spark's truncates
        F.floor(span_us / F.lit(1000000)).cast("bigint").alias("span_seconds"),
    )


#: The 30-minute session gap in microseconds — THE session boundary rule
#: shared by every sessionized key (q_sessionize, q_peak_concurrency,
#: q_top_paths, q_abandoned_carts) via :func:`_session_id`.
SESSION_GAP_US = 1800 * 1000000


def _session_is_new() -> Column:
    """The per-event new-session flag (1 when the gap to the previous
    event of the same user exceeds :data:`SESSION_GAP_US`) — THE one
    definition of the boundary rule; :func:`_session_id` sums it."""
    w_user = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w_user)
    )
    return F.when(gap_us > SESSION_GAP_US, 1).otherwise(0)


def _session_id() -> Column:
    """Cumulative session id within (user_id, ts order): increments when
    the gap to the previous event exceeds :data:`SESSION_GAP_US`.  ONE
    definition so the keys documented as sharing \"the same sessions\"
    cannot silently fork boundary semantics."""
    w_user = Window.partitionBy("user_id").orderBy("ts")
    return F.sum(_session_is_new()).over(
        w_user.rowsBetween(Window.unboundedPreceding, 0)
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via lag + cumulative flag (the batch
    equivalent of ``F.session_window``; 30-minute gap).

    At scale this is one shuffle on user_id with an in-partition sort —
    the same cost profile as the streaming state-store variant."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("is_new", _session_is_new())
        .groupBy("user_id")
        .agg((F.lit(1) + F.sum("is_new")).cast("bigint").alias("n_sessions"))
    )


# --------------------------------------------------------------------------
# Nested serialization / faceting / rollup / ranking  (SURVEY §2.3 J2,
# §2.2 P6, §2.4 A16, §2.5 extensions)
# --------------------------------------------------------------------------


def q_nest_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: eager 1:N join nesting children per parent (ref main.py:189
    joinedload + :554-577 serialization) — BUILDING customers with their
    order keys as a sorted array.

    Scale: one shuffle on the join key; collect_list is a map-side-partial
    aggregate, and the child array is bounded by per-customer fan-in (the
    reference's page cap bounds it further in serving)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("o_orderkey")), ",").alias(
                "order_keys"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_facets_one_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: skip-one-field faceting in ONE pass (ref main.py:117-132 runs
    one query per facet field; SURVEY §4 flags the single-pass rewrite).

    Active filters: segment ∈ {BUILDING, MACHINERY}, status ∈ {O}.  Each
    facet collects its field's distinct values under every *other* active
    filter.  One scan + one single-row aggregate instead of N queries —
    at 100 TB, N-1 fewer full scans."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == cust.c_custkey,
        "inner",
    )
    p_seg = F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    p_status = F.col("o_orderstatus") == "O"

    def facet(col: str, cond) -> F.Column:
        vals = F.sort_array(F.array_distinct(F.collect_list(F.when(cond, F.col(col)))))
        return F.transform(
            vals, lambda v: F.struct(F.lit(col).alias("facet_field"), v.alias("facet_value"))
        )

    one_row = base.agg(
        F.concat(
            facet("c_mktsegment", p_status),
            facet("o_orderstatus", p_seg),
            facet("o_orderpriority", p_seg & p_status),
        ).alias("facets")
    )
    return one_row.select(F.explode("facets").alias("f")).select("f.facet_field", "f.facet_value")


def q_rollup_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: grand-total footer via rollup (ref Dashboard.jsx:903-917 sums
    client-side; grouping sets do it in-plan)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status_label"),
            "n_orders",
            "total_price",
        )
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W: ranking window — top-3 customers by balance per segment
    (beyond-reference window coverage; frames come free with Window)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rank_in_segment", F.row_number().over(w))
        .filter(F.col("rank_in_segment") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rank_in_segment")
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (1 h window, 30 min hop) in batch form —
    the streaming twin uses the same ``F.window`` expression under a
    watermark (SURVEY §7.7).

    Each event lands in exactly size/hop = 2 windows; Spark's window
    generator explodes in-plan (no self-union), aligned to the unix epoch
    like the oracle's bucket arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions with bounds via ``F.session_window`` (the
    built-in the reference lacks; SURVEY §2.9).  30-minute gap; session
    end = last event + gap.  Boundary semantics (verified empirically and
    pinned in tests/test_streaming.py): touching windows MERGE — a new
    session starts only when the inter-event gap is STRICTLY greater than
    the gap duration.

    The streaming twin (`streaming.events.session_counts`) is the same
    expression under a watermark; this batch form is the oracle-checkable
    one (gaps-and-islands SQL)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def q_fullouter_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: full-outer merge of two aggregate maps with zero-coalesce (ref
    Dashboard.jsx:595-629 merges open-ended vs MCQ per-area maps) —
    per nation: customer count ⟗ supplier count."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = supp.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return c.join(s, "nationkey", "full_outer").select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


def q_groupby_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 under the hot-key treatment: the two-phase salted aggregation
    (operators.skew.salted_count) must be result-identical to the plain
    groupBy — proven through the same oracle as q_groupby_count's shape.
    At scale the salt spreads a hot status across 16 reducers."""
    from lexam_data_pipeline_spark.operators.skew import salted_count

    orders = load_table(spark, sf_dir, "orders")
    return salted_count(orders, ["o_orderstatus"], F.col("o_orderkey"), n_salts=16).select(
        F.col("o_orderstatus"), F.col("count").alias("n_orders")
    )


def q_template_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: runtime prompt template compiled to a concat expression
    (functions.extract.template_format; ref generation.py:22-37) —
    exercised through the oracle on fixture columns."""
    from lexam_data_pipeline_spark.functions.extract import template_format

    cust = load_table(spark, sf_dir, "customer")
    tpl = "Dear {name} (customer #{key}), segment {{quoted}}: {segment}."
    prompt = template_format(
        tpl,
        {"name": F.col("c_name"), "key": F.col("c_custkey"), "segment": F.col("c_mktsegment")},
    )
    return cust.select(F.col("c_custkey").alias("key"), prompt.alias("prompt"))


def q_letter_extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (pattern 1) + F7 through the driver oracle: synthesize
    ``###X###`` answers from fixture ids, extract the letter back, and
    aggregate — gold-letter arithmetic and the extraction regex both
    verified cross-engine."""
    from lexam_data_pipeline_spark.functions.extract import extract_letter

    docs = load_table(spark, sf_dir, "documents")
    answer = F.concat(
        F.lit("noise <think>x</think> ###"),
        F.char(F.pmod(F.col("doc_id"), F.lit(4)) + 65),
        F.lit("### tail"),
    )
    return (
        docs.withColumn("letter", extract_letter(answer))
        .groupBy("letter")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling (the reference's JSON surface,
    §2.8 family): parse the events ``props`` JSON, extract a typed field,
    aggregate.  ``from_json`` with an explicit schema — typed at parse
    time, codegen-friendly, and malformed rows degrade to NULL instead of
    failing the job (same row-isolation policy as ingest)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("total_k"),
            F.count("k").alias("n_with_k"),
        )
    )


def q_join_5way_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J7 at depth: the classic star chain lineitem⋈orders⋈customer⋈
    nation⋈region → revenue per region.  All three dimension hops
    broadcast (nation/region are tiny; customer fits the 64 MB
    threshold at bench scale — at 100 TB AQE decides per stats)."""
    li = load_table(spark, sf_dir, "lineitem", fan=True)
    orders = load_table(spark, sf_dir, "orders", fan=True)
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            _dec_sum("l_extendedprice").alias("revenue"),
        )
    )


def q_asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the user's most recent order at or
    before the event time (ties on o_orderdate broken by max o_orderkey),
    then rolls up per event_type so the oracle compares a compact result.

    The join itself is the union+window carry-forward in
    :func:`operators.temporal.asof_join` — one shuffle on user_id, no
    inequality join operator anywhere in the plan."""
    from lexam_data_pipeline_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    joined = asof_join(
        ev.withColumnRenamed("user_id", "o_custkey"),
        orders,
        on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        carry={"o_orderkey": "asof_orderkey", "o_totalprice": "asof_totalprice"},
        tiebreak="o_orderkey",
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("asof_orderkey").alias("n_matched"),
        F.sum("asof_orderkey").cast("bigint").alias("sum_orderkey"),
        _dec_sum("asof_totalprice").alias("sum_totalprice"),
    )


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per order, the count/value of the customer's events in
    the week starting at the order date — bin-blocked equi join
    (:func:`operators.temporal.range_join_binned`), never a
    BroadcastNestedLoop theta join.

    Left-outer semantics (orders with zero events survive at 0) are
    restored AFTER the aggregation: the inner range join rolls up to one
    row per matched order, and the order-key spine left-joins that
    compact aggregate — so the no-match completion touches ``O(orders)``
    rows, never a second pass over the exploded join (the generic
    ``how="left"`` path must anti-join before aggregation and pays the
    join twice; aggregate-side completion is the 100 TB shape whenever
    the consumer aggregates anyway)."""
    from lexam_data_pipeline_spark.operators.temporal import range_join_binned

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    week_us = 7 * 24 * 3600 * 1_000_000
    joined = range_join_binned(
        orders,
        ev,
        on=("o_custkey", "user_id"),
        interval_start=F.col("o_orderdate"),
        interval_len_us=week_us,
        probe_time="ts",
        how="inner",
    )
    agg = joined.groupBy("o_orderkey").agg(
        F.count("event_id").alias("n_events"),
        _dec_sum("value").alias("total_value"),
    )
    return orders.select("o_orderkey").join(agg, "o_orderkey", "left").select(
        "o_orderkey",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup: order counts and revenue across every combination of
    (status, priority) including both one-dimension margins and the
    grand total — the OLAP drill-down surface in one pass.

    Spark's ``cube()`` expands grouping sets BEFORE the shuffle but
    partial-aggregates each set map-side, so the shuffle carries one
    partial row per (set, group) — at 100 TB this costs the same as ~4
    stacked groupBys while scanning once.  ``grouping_id`` (status = MSB)
    disambiguates real NULLs from margin rows, matching DuckDB's
    ``GROUPING(a, b)`` bit order."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum("o_totalprice").alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
            "revenue",
        )
    )


def q_ntile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation account-balance quartiles: ntile(4) + the bucket's
    cume_dist ceiling, rolled up per (nation, quartile).

    The window partitions by nation — never a global sort — so executors
    each sort only their nations' customers; the deterministic
    (acctbal, custkey) tiebreak makes ntile assignment engine-exact."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    ranked = cust.select(
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
    )
    return ranked.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nation"), "quartile"
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dec_sum("c_acctbal").alias("balance_sum"),
        F.max("cd").alias("cd_ceiling"),
    )


# --------------------------------------------------------------------------
# Round-3 window / string / array coverage  (SURVEY §2.5, §2.8)
# --------------------------------------------------------------------------


def q_moving_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving revenue per order priority: a RANGE-frame window over
    event time (SURVEY §2.5; the reference's dashboard charts bucket by
    day — ref main.py:419-441 — this is the rolling variant).

    Two-level shape: the daily pre-aggregation shuffles once on
    (priority, day) and collapses ~N orders to ~priorities×days rows, so
    the RANGE window then sorts only the compact daily series — at 100 TB
    the window input is thousands of rows per priority, not billions.
    Decimal daily sums keep the moving total engine-exact; the moving
    average divides that exact total by an exact row count."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec"))
    # RANGE frame over seconds-since-epoch: whole days, so the -6d..0d
    # bound is exact integer arithmetic on both engines.
    w = (
        Window.partitionBy("priority")
        .orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    # Emit the day as an ISO string: Spark DATE and DuckDB DATE stringify
    # differently through pandas ('1998-05-07' vs '... 00:00:00'), and the
    # compare harness hashes the string form.
    return daily.select(
        "priority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("rev_dec").cast("double").alias("revenue"),
        F.sum("rev_dec").over(w).cast("double").alias("rev_7d"),
        F.round(
            F.sum("rev_dec").over(w).cast("double") / F.count(F.lit(1)).over(w), 4
        ).alias("avg_7d"),
    )


def q_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over an explicit full-partition frame: each
    user's first and last event type (SURVEY §2.5).

    The frame must be UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING — the
    default frame under an ORDER BY stops at CURRENT ROW, which silently
    turns last_value into the identity.  The (ts, event_id) tiebreak makes
    both endpoints engine-deterministic.  The follow-up groupBy collapses
    per-user constants to one row, so the shuffle out of the window stage
    carries one row per user."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    tagged = ev.select(
        "user_id",
        F.first_value("event_type").over(w).alias("first_type"),
        F.last_value("event_type").over(w).alias("last_type"),
    )
    return tagged.groupBy("user_id", "first_type", "last_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((returnflag), (linestatus)): two independent
    aggregation margins in one scan (SURVEY §2.4; the reference issues one
    GROUP BY per dashboard facet — ref main.py:380-441 — this fuses them).

    Like cube/rollup, Spark expands the sets before the shuffle but
    partial-aggregates map-side, so the single scan + single shuffle
    replaces two full passes — the fusion matters exactly when the input
    is 100 TB and each extra pass is an hour.  grouping() flags (not raw
    NULLs) distinguish margin rows from data NULLs."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        )
        .agg(
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("int")
            .alias("gid"),
            F.count(F.lit(1)).alias("n_items"),
            _dec_sum("l_extendedprice").alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "n_items",
            "revenue",
        )
    )


def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Levenshtein drift from the source's canonical (lowest
    doc_id) document head — template-detection by edit distance (SURVEY
    §2.8; boilerplate clustering in curation pipelines).

    first_value over (source ORDER BY doc_id) pins the canonical head
    without a self-join — one shuffle on source, and the O(40²) DP per
    row runs JVM-side in codegen.  Distances are exact integers, so the
    per-source mean is an exact int sum over an exact count."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring("text", 1, 40).alias("head")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    with_canon = docs.withColumn("canon_head", F.first_value("head").over(w))
    dist = F.levenshtein("head", "canon_head")
    return with_canon.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(dist).cast("bigint").alias("total_dist"),
        F.round(F.sum(dist) / F.count(F.lit(1)), 4).alias("avg_dist"),
        F.max(dist).cast("int").alias("max_dist"),
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm and mean component via higher-order array
    functions (SURVEY §2.8) — transform + sequential-left-fold aggregate,
    entirely JVM-side (the Arrow/pandas path would pay serialization for
    arithmetic codegen does better).

    Parity: the fold is ``((0 + x₁²) + x₂²) + ...`` — the same
    association DuckDB's list_reduce produces — and sqrt/division are
    correctly-rounded IEEE ops, so results are bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm2 = F.aggregate(ed, F.lit(0.0), lambda acc, x: acc + x * x)
    total = F.aggregate(ed, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(norm2), 6).alias("l2_norm"),
        F.round(total / F.size("embedding"), 6).alias("mean_component"),
    )


def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats: split on '.', drop blank segments,
    report count / exact mean length / longest (SURVEY §2.8; the sentence
    tier of a text-quality pipeline).

    Everything stays inside one projection — split, filter, transform,
    fold — no explode, so there is NO shuffle at all: a pure map-side
    operator that scales embarrassingly."""
    docs = load_table(spark, sf_dir, "documents")
    parts = F.filter(
        F.split(F.col("text"), r"\."),
        lambda p: F.length(F.trim(p)) > 0,
    )
    lens = F.transform(parts, lambda p: F.length(F.trim(p)))
    total = F.aggregate(lens, F.lit(0), lambda acc, x: acc + x)
    return docs.select(
        "doc_id",
        F.size(parts).alias("n_sentences"),
        total.alias("total_sentence_chars"),
        F.round(total / F.size(parts), 4).alias("avg_sentence_chars"),
        F.array_max(lens).alias("longest_sentence"),
    ).filter(F.col("n_sentences") > 0)


# --------------------------------------------------------------------------
# Round-4 coverage: set ops, listagg, exact correlation, date arithmetic,
# multi-percentile, CDC merge, iterative graph pruning, corpus cards
# (SURVEY §2.4, §2.7, §2.8 extensions)
# --------------------------------------------------------------------------


def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set algebra over two key sets (SURVEY §2.7; the
    reference only has UNION — ref seed.py:68-131 — and anti-join EXCEPT
    semantics — ref services/judging.py:42-52; these are the missing two
    of the set-op triple).

    ``intersect``/``subtract`` are DISTINCT set ops: Spark plans both as
    aggregate + shuffle on the key with map-side partial distinct, so the
    shuffle carries unique keys only — at 100 TB the exchanged data is the
    key cardinality, not the row count."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("nationkey")
    )
    both = cust.intersect(supp).select("nationkey", F.lit("both").alias("tag"))
    conly = cust.subtract(supp).select(
        "nationkey", F.lit("customer_only").alias("tag")
    )
    sonly = supp.subtract(cust).select(
        "nationkey", F.lit("supplier_only").alias("tag")
    )
    return both.unionByName(conly).unionByName(sonly)


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered listagg: per nation, the sorted distinct market segments as
    one CSV string (SURVEY §2.4 A11; the reference builds exactly this
    label string in Python — ref main.py:296-305 ``", ".join(sorted(...))``).

    ``collect_set`` + ``array_sort`` + ``array_join`` keeps the whole
    reduction JVM-side; the pre-``distinct`` pass means the shuffle into
    the final aggregate carries unique (nation, segment) pairs — bounded
    by the label-domain size, not the table."""
    cust = load_table(spark, sf_dir, "customer")
    pairs = cust.select(
        F.col("c_nationkey").cast("bigint").alias("nation"), "c_mktsegment"
    ).distinct()
    return pairs.groupBy("nation").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.count(F.lit(1)).alias("n_segments"),
    )


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample stddev per return flag, computed from
    EXACT decimal moment sums (SURVEY §2.4 A7 extension; the reference's
    stats tier stops at mean/median — ref experiment_stats.py:51-61).

    Neither engine's built-in ``corr`` is reproducible across partitionings
    (float accumulation order), so the moments (n, Σx, Σy, Σx², Σy², Σxy)
    are summed as decimals — exact, order-independent, map-side-combined:
    ONE shuffle of 6 numbers per group.  The closed-form corr/stddev is
    then identical IEEE double arithmetic on both engines.  This is also
    the 100 TB shape: moment sums sketch-combine across any partitioning."""
    li = load_table(spark, sf_dir, "lineitem", fan=True)
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # correlation/stddev are undefined at n=1 or zero variance — NULL,
    # not an ANSI 0/0 (single-row-fuzz regression; oracle CASE matches)
    corr = F.when(
        (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0),
        (n * sxy - sx * sy)
        / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
    )
    stddev_q = F.when(
        n > 1.0, F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1.0))))
    )
    return m.select(
        F.col("l_returnflag").alias("returnflag"),
        n.cast("bigint").alias("n_items"),
        F.round(corr, 6).alias("corr_qty_price"),
        F.round(stddev_q, 6).alias("stddev_qty"),
    )


def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic family: date_trunc / last_day / datediff per
    order month (SURVEY §2.8 F3/F12 extension; the reference's only date
    math is the year substring — ref seed.py:90-94).

    All three functions are integer-exact calendar ops, and the month
    bucket is also the partition-pruning column a date-partitioned 100 TB
    lake would use — this groupBy compiles to a scan + one shuffle of
    ~months×4 values."""
    orders = load_table(spark, sf_dir, "orders")
    mstart = F.date_trunc("month", F.col("o_orderdate"))
    enriched = orders.select(
        F.date_format(mstart, "yyyy-MM-dd").alias("month"),
        F.dayofmonth(F.last_day(F.col("o_orderdate"))).alias("month_days"),
        F.datediff(F.to_date(F.col("o_orderdate")), F.to_date(mstart)).alias(
            "day_offset"
        ),
    )
    return enriched.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("month_days").cast("int").alias("month_days"),
        F.round(F.sum("day_offset") / F.count(F.lit(1)), 4).alias(
            "avg_day_offset"
        ),
    )


def q_percentile_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of document length per source in ONE aggregate
    (SURVEY §2.4 A7; ref experiment_stats.py:142-152 computes a lone
    median in Python).

    ``percentile(col, array(...))`` materializes the sorted-value sketch
    once per group and reads all three cut points from it — one shuffle,
    one sort, three quantiles.  Both engines interpolate linearly between
    adjacent order statistics over exact integers, so results match
    bit-for-bit.  The documented 100 TB switch is approx_percentile with
    an error bound (operators/approx.py)."""
    docs = load_table(spark, sf_dir, "documents")
    pct = F.expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), pct.alias("p")
    )
    return agg.select(
        "source",
        "n_docs",
        F.round(F.element_at("p", 1), 4).alias("p25_chars"),
        F.round(F.element_at("p", 2), 4).alias("p50_chars"),
        F.round(F.element_at("p", 3), 4).alias("p75_chars"),
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert: apply an update feed over a base snapshot via
    :func:`operators.merge.merge_upsert` (SURVEY §2.1 S2's missing half —
    ref seed.py:86-109 only inserts on first sight, never updates).

    Fixture realization: base = orders not divisible by 3; feed = every
    even order re-priced at an exact decimal 1.1× and flagged 'U'.  The
    merge is one full-outer join on the key — AQE broadcasts the feed
    when it fits; a bucketed snapshot would shuffle nothing at all.
    Prices stay exact: decimal(18,2) × decimal(2,1) is decimal(21,3),
    losslessly cast to double on both engines — no float rounding."""
    from lexam_data_pipeline_spark.operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(2,1)")
        )
        .cast("double")
        .alias("o_totalprice"),
    )
    merged = merge_upsert(base, updates, ["o_orderkey"])
    return merged.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )


def q_kcore_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative bipartite k-core pruning over the supplier–part graph:
    two rounds of degree-threshold deletion (SURVEY north star; the
    dedup-cluster family's iterative sibling — graph trimming before
    expensive pairwise work is how 100 TB similarity graphs get cut down).

    A degree filter is a count-window over the node column, so each of
    the four prune steps is ``count().over(partitionBy(node)) >= k`` —
    the whole 2-round cascade compiles to ONE declarative plan (distinct
    + four window shuffles), no driver-side loop, no persist.  The
    aggregate-then-semi-join alternative costs 2 extra jobs per round
    plus per-round persists; with a FIXED round count the fused window
    form is strictly better (for data-dependent convergence loops, see
    the persisted CC loop at ml/dedup.py:428).

    The per-side degree report then EXPLODES each edge into its two
    (side, node) roles and aggregates once: a union of two per-side
    aggregates would execute the cascade twice (exchange reuse does NOT
    fire across the union branches — verified in tests/test_plans.py,
    which asserts this plan scans lineitem exactly once).  All
    arithmetic is integer-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    PART_K, SUPP_K = 26, 270
    wp, ws = Window.partitionBy("p"), Window.partitionBy("s")
    for _ in range(2):
        edges = (
            edges.withColumn("d", F.count(F.lit(1)).over(wp))
            .filter(F.col("d") >= PART_K)
            .drop("d")
            .withColumn("d", F.count(F.lit(1)).over(ws))
            .filter(F.col("d") >= SUPP_K)
            .drop("d")
        )
    roles = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("supplier").alias("side"), F.col("s").alias("node")
                ),
                F.struct(F.lit("part").alias("side"), F.col("p").alias("node")),
            )
        ).alias("r")
    ).select("r.side", "r.node")
    return roles.groupBy("side", "node").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus "dataset card": per (source, lang) doc counts, exact char
    totals, and share-of-source (SURVEY north star; the per-source summary
    every training-data release ships — and the reference's dashboard
    shape, ref main.py:342-407, applied to a corpus).

    One shuffle for the groupBy; the share-of-source window runs over the
    already-tiny aggregate, not the corpus.  Char totals are exact integer
    sums; shares divide exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.sum("n_chars") / F.count(F.lit(1)), 4).alias("avg_chars"),
    )
    w = Window.partitionBy("source")
    return per.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "avg_chars",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias(
            "share_of_source"
        ),
    )


def q_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (:mod:`operators.quality`) over a
    deterministically corrupted orders table: every ``o_orderkey % 97 ==
    0`` row is re-appended with a NULL custkey, an illegal status, and a
    negated price — so each check catches a known-nonzero violation set
    and the oracle (which constructs the identical corruption) verifies
    the exact counts.  Referential integrity is audited against a parent
    set missing every 7th order.

    Pass economy is the point (SURVEY §2.4 at 100 TB): the three
    row-local checks share ONE aggregate scan; uniqueness adds one
    groupBy; referential integrity one anti-join against broadcast
    distinct parent keys."""
    from lexam_data_pipeline_spark.operators.quality import (
        InSet,
        NotNull,
        Range,
        RefIntegrity,
        Unique,
        audit,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    bad = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit("X").alias("o_orderstatus"),
        (-F.col("o_totalprice")).alias("o_totalprice"),
    )
    corrupted = orders.unionByName(bad)
    lineitem = load_table(spark, sf_dir, "lineitem")
    parents = orders.filter(F.col("o_orderkey") % 7 != 0)
    return audit(
        corrupted,
        [
            NotNull("o_custkey"),
            InSet("o_orderstatus", ("O", "F", "P")),
            Range("o_totalprice", lo=0.0),
            Unique(("o_orderkey",)),
        ],
    ).unionByName(
        audit(
            lineitem,
            [RefIntegrity("l_orderkey", parents, "o_orderkey")],
        )
    )


def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct customers per order status via mergeable bitmap
    aggregates (SURVEY §2.4 A4 at 100 TB): ``bitmap_construct_agg`` over
    (status, key-bucket) builds one 4 KB bitmap per 32k-key range, then
    ``bitmap_or_agg`` + ``bitmap_count`` merges buckets — exact, unlike
    HLL, and the merge is associative so the heavy first level is
    entirely map-side partial-aggregated.

    This is THE warehouse pattern for exact COUNT(DISTINCT) at scale:
    the shuffle carries a few bitmaps per group instead of every raw
    key, and pre-computed per-partition bitmaps (e.g. stored per
    ingest batch) merge incrementally — the count-distinct analog of
    :mod:`operators.incremental`.  The oracle computes the same number
    the boring way (``count(DISTINCT)``), proving exactness."""
    orders = load_table(spark, sf_dir, "orders")
    buckets = orders.groupBy(
        "o_orderstatus",
        F.bitmap_bucket_number(F.col("o_custkey")).alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(F.col("o_custkey"))).alias(
            "bm"
        )
    )
    return buckets.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_distinct_custkeys")
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct customers per status via Apache DataSketches
    HLL (``hll_sketch_agg``) — the sketch sibling of
    :func:`q_bitmap_distinct` for when 4 KB-per-32k-keys bitmaps are too
    big (billions of keys): fixed ~1 KB sketches, mergeable with
    ``hll_union_agg`` across partitions/batches/days.

    Rows-only for the driver (DuckDB's HLL is a different
    implementation, so estimates differ); the error bound IS pytest-
    enforced instead (tests/test_scale_operators.py: within 3% of exact
    at lgConfigK=14).  Deterministic for fixed input + lgConfigK —
    hash-based, no RNG."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("o_custkey"), F.lit(14))
        ).alias("approx_distinct_custkeys")
    )


def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing on Spark 4's VariantType:
    ``parse_json`` once into a variant, ``variant_get`` typed paths out
    (SURVEY §2.8 S3/F ext; the modern engine-native path for open
    schemas — no explicit struct schema, binary-encoded, predicate-
    friendly — vs ``from_json`` in q_events_json_extract).

    The rollup groups the extracted int by parity and aggregates it —
    values, not just structure, cross the variant boundary, so the
    oracle (DuckDB JSON extraction) verifies typed extraction exactly."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k").isNotNull())
        .groupBy((F.col("k") % 2 == 0).alias("k_even"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("total_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the table arrives as two
    arbitrary append batches, each aggregated independently into
    combinable state and merged (:mod:`operators.incremental`) — the
    result must equal a from-scratch GROUP BY, which is exactly what the
    oracle computes (SURVEY §2.4 at 100 TB; the reference re-aggregates
    everything per request, ref main.py:339-441).

    The equivalence is the point: decimal accumulators make the merge
    bit-identical to one-shot aggregation no matter how history was
    batched, so a daily refresh touches only the new batch."""
    from lexam_data_pipeline_spark.operators.incremental import (
        merge_state,
        partial_state,
    )

    orders = load_table(spark, sf_dir, "orders")
    batch_a = orders.filter(F.col("o_orderkey") % 2 == 0)
    batch_b = orders.filter(F.col("o_orderkey") % 2 != 0)
    state = partial_state(batch_a, ["o_orderstatus"], "o_totalprice")
    state = merge_state(
        state, partial_state(batch_b, ["o_orderstatus"], "o_totalprice"),
        ["o_orderstatus"],
    )
    return state.select(
        F.col("o_orderstatus").alias("status"),
        F.col("n").alias("n_orders"),
        F.col("sum_dec").cast("double").alias("revenue"),
        F.round(F.col("sum_dec").cast("double") / F.col("n"), 4).alias(
            "avg_price"
        ),
    )


# --------------------------------------------------------------------------
# Round 3: layout / skew joins / event analytics  (SURVEY §2 extensions)
# --------------------------------------------------------------------------


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two order dimensions, rolled
    up per 256-key Z-cell (:mod:`operators.layout`; SURVEY sink/S6 ext).

    The key interleaves bits of a bounded customer bucket and a bounded
    price bucket, so sorting by it co-locates rows that are close in
    BOTH dimensions — the layout that makes parquet min/max stats prune
    multi-dimensional filters at 100 TB.  Pure integer bit arithmetic in
    codegen; the oracle regenerates the identical interleave in SQL, so
    every key (not a sample) is verified exactly."""
    from lexam_data_pipeline_spark.operators.layout import zorder_key

    orders = load_table(spark, sf_dir, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(256))
    y = F.least(F.floor(F.col("o_totalprice") / 2000), F.lit(255)).cast("bigint")
    z = zorder_key(x, y, bits=8)
    return (
        orders.withColumn("zkey", z)
        .groupBy(F.shiftright(F.col("zkey"), 8).alias("zcell"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("zkey").alias("min_zkey"),
            F.max("zkey").alias("max_zkey"),
            _dec_sum("o_totalprice").alias("revenue"),
        )
    )


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted fact-to-fact join (:mod:`operators.skew`;
    SURVEY §2.3 at 100 TB): lineitem ⋈ orders on the order key with the
    fact side salted 8 ways and the other side replicated per salt, then
    revenue per order status.

    When one join key carries a disproportionate share of rows (a viral
    document, a null-ish default key), an unsalted shuffle join puts the
    whole hot key in ONE task; salting fans it out to ``n_salts`` tasks
    at the cost of replicating the smaller side's matching rows.  The
    oracle is the plain join — identical output proves salting is a pure
    physical rewrite.  (AQE skew-join handles moderate skew at runtime;
    explicit salting is the deterministic fallback for pathological
    keys.)"""
    from lexam_data_pipeline_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = salted_join(
        li,
        orders,
        "l_orderkey",
        # salt from the fact row's unique line number: rows of ONE hot
        # order key spread across all 8 salt partitions
        salt_source=F.col("l_linenumber"),
        n_salts=8,
    )
    return joined.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_items"),
        _dec_sum("l_extendedprice").alias("revenue"),
    )


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel view → click → purchase (product-analytics
    staple; SURVEY §2.9 ST analog in batch).

    One shuffle total: events group by user into a sorted (ts, type)
    array, then each step's earliest qualifying timestamp is an array
    reduction — step N must be strictly AFTER step N-1.  At 100 TB the
    per-user array is bounded by per-user activity (the same bound
    sessionization needs), and the rollup to one row is a tree
    aggregation over user flags.  Exact integers; the oracle does the
    same with three correlated min-scans."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col("event_type").alias("et")))
            ).alias("evs")
        )
    )
    t1 = F.array_min(
        F.transform(
            F.filter("evs", lambda e: e["et"] == F.lit("view")), lambda e: e["ts"]
        )
    )
    per_user = per_user.withColumn("t1", t1)
    t2 = F.array_min(
        F.transform(
            F.filter(
                "evs",
                lambda e: (e["et"] == F.lit("click")) & (e["ts"] > F.col("t1")),
            ),
            lambda e: e["ts"],
        )
    )
    per_user = per_user.withColumn("t2", t2)
    t3 = F.array_min(
        F.transform(
            F.filter(
                "evs",
                lambda e: (e["et"] == F.lit("purchase")) & (e["ts"] > F.col("t2")),
            ),
            lambda e: e["ts"],
        )
    )
    per_user = per_user.withColumn("t3", t3)
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_step_view"),
        F.count("t2").alias("n_step_click"),
        F.count("t3").alias("n_step_purchase"),
        # when(>0): 0/0 would raise under ANSI on an empty corpus; NULL
        # matches the oracle's SQL division semantics on real data
        F.round(
            F.when(F.count("t1") > 0, F.count("t2") / F.count("t1")), 4
        ).alias("conv_view_click"),
        F.round(
            F.when(F.count("t2") > 0, F.count("t3") / F.count("t2")), 4
        ).alias("conv_click_purchase"),
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (SURVEY §2.9 ST analog in batch): users
    cohorted by the Monday-truncated week of their FIRST event; for each
    (cohort week, whole weeks since cohort) cell, how many distinct
    users were active.

    Two shuffles (first-event min per user, then distinct cell count) —
    both map-side combinable.  Offsets are exact integer day arithmetic,
    so the oracle matches bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohorted = ev.join(first, "user_id").select(
        "user_id",
        F.date_format(F.date_trunc("week", F.col("first_ts")), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        F.floor(
            F.datediff(
                F.to_date(F.col("ts")),
                F.to_date(F.date_trunc("week", F.col("first_ts"))),
            )
            / 7
        ).alias("week_offset"),
    )
    return cohorted.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active_users")
    )


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test over the events stream (SURVEY §2.4 A12
    ext.): users split by ``user_id % 2``, conversion = "ever purchased",
    pooled two-proportion z-score.

    One shuffle (per-user rollup), then a scalar reduction.  Counts are
    exact integers; the z formula is written symbol-for-symbol the same
    as the oracle so every double op is IEEE-identical."""
    ev = load_table(spark, sf_dir, "events")
    # "converted" = at least 14 purchases — the fixture's per-user
    # purchase count is ~Poisson(13.3) at every SF, so this splits users
    # near the median and keeps both rates strictly inside (0, 1) (an
    # any-purchase definition saturates at 1.0 and the pooled-variance z
    # denominator hits exact zero).
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14
        )
        .cast("int")
        .alias("converted")
    )
    grp = per_user.groupBy(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    a = grp.where(F.col("grp") == "A").select(
        F.col("n_users").alias("n_a"), F.col("n_converted").alias("c_a")
    )
    b = grp.where(F.col("grp") == "B").select(
        F.col("n_users").alias("n_b"), F.col("n_converted").alias("c_b")
    )
    j = a.crossJoin(b)
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    z = (p_a - p_b) / F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return j.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(p_a, 4).alias("rate_a"),
        F.round(p_b, 4).alias("rate_b"),
        F.round(z, 4).alias("z_score"),
    )


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group quantiles via ``percentile_approx`` (the
    documented 100 TB switch for q_agg_stats' exact median — SURVEY
    §2.4 A7): Greenwald-Khanna summaries are mergeable, so the heavy
    level is map-side partial and the shuffle carries fixed-size
    summaries, not values.

    Rows-only for the driver (DuckDB's approx algorithm differs); the
    error bound is pytest-enforced against the exact percentiles
    instead (tests/test_scale_operators.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(10000)
    )
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(q[0], 2).alias("p25"),
        F.round(q[1], 2).alias("p50"),
        F.round(q[2], 2).alias("p75"),
    )


# --------------------------------------------------------------------------
# Round 3: robust statistics, time-decay aggregation, char-class quality
# --------------------------------------------------------------------------


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per return flag: |price - median| >
    3 * MAD (:func:`operators.robust.mad_outliers`).  Extends the
    reference's stats tier (ref main.py:431-441 stops at mean/median)
    with the estimator a corpus-quality gate actually needs — MAD
    ignores the heavy tail that wrecks stddev-based z-scores.

    Scale: two narrow shuffles (value column only) + two broadcast
    joins; the documented 100 TB switch is approx_percentile."""
    from lexam_data_pipeline_spark.operators.robust import mad_outliers

    li = load_table(spark, sf_dir, "lineitem")
    return mad_outliers(li, "l_returnflag", "l_extendedprice").withColumnRenamed(
        "g", "l_returnflag"
    )


def q_outlier_mad_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified 100 TB switch for :func:`q_outlier_mad`: both medians
    via mergeable ``percentile_approx`` sketches, so no reducer ever
    materializes a group (memory O(accuracy) per task, no hot-group
    straggler).  Same output schema as the exact twin.

    Rows-only for the driver (DuckDB's approx-quantile algorithm
    differs); tests/test_scale_operators.py pins it to the exact twin at
    fixture scale (GK summaries are exact below ``accuracy`` rows) and
    bounds the deviation at deliberately coarse accuracy — mirroring the
    q_approx_quantiles pattern."""
    from lexam_data_pipeline_spark.operators.robust import mad_outliers_approx

    li = load_table(spark, sf_dir, "lineitem")
    return mad_outliers_approx(li, "l_returnflag", "l_extendedprice").withColumnRenamed(
        "g", "l_returnflag"
    )


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per return flag: clamp prices to [p05, p95] then
    average (:func:`operators.robust.winsorized_mean`) — the standard
    pre-averaging clip for heavy-tailed quality scores."""
    from lexam_data_pipeline_spark.operators.robust import winsorized_mean

    li = load_table(spark, sf_dir, "lineitem")
    return winsorized_mean(li, "l_returnflag", "l_extendedprice").withColumnRenamed(
        "g", "l_returnflag"
    )


def q_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement per user: ``sum(value / (1 + age_days))``
    over events — the freshness-weighted score a crawl scheduler or
    source-mixing policy uses to favor recently-active sources.

    Engine-exactness: the decay weight is rational (no libm ``exp``),
    ``value * w`` is one deterministic double op, floor-scaled ×1e4 to
    int64 before the order-independent integer sum.  Scale: pure
    map-side arithmetic + one groupBy shuffle of (user, int64)."""
    ev = load_table(spark, sf_dir, "events")
    # clamp to 0: an event after the reference date must weigh like "now",
    # not divide by zero (age=-1) or go negative
    age = F.greatest(
        F.datediff(F.lit("2024-02-01").cast("date"), F.col("ts").cast("date")),
        F.lit(0),
    )
    w = F.lit(1.0) / (F.lit(1.0) + age)
    contrib = F.floor((F.col("value") * w) * F.lit(10000.0)).cast("bigint")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(contrib).alias("decayed_scaled"),
        )
        .select(
            "user_id",
            "n_events",
            "decayed_scaled",
            F.round(F.col("decayed_scaled") / F.lit(10000.0), 4).alias("decayed_value"),
        )
    )


def q_char_class_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-class composition + Gini impurity of the
    class mix — a libm-free text-quality signal (a healthy natural-text
    corpus has a stable alpha/space/digit profile; tables, code, and
    boilerplate skew it).  Complements ml/textstats.q_text_quality.

    Gini = 1 - sum(p_i^2) is pure rational arithmetic over exact integer
    counts → bit-equal across engines (entropy's ``log`` is not).
    Scale: regexp counting is per-row map work inside codegen; one
    groupBy(lang) shuffle of 5 integers."""
    docs = load_table(spark, sf_dir, "documents")
    n_alpha = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]"))
    n_digit = F.regexp_count(F.col("text"), F.lit(r"[0-9]"))
    n_space = F.regexp_count(F.col("text"), F.lit(r"\s"))
    counted = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        n_alpha.cast("bigint").alias("n_alpha"),
        n_digit.cast("bigint").alias("n_digit"),
        n_space.cast("bigint").alias("n_space"),
    )
    agg = counted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("c_total"),
        F.sum("n_alpha").alias("c_alpha"),
        F.sum("n_digit").alias("c_digit"),
        F.sum("n_space").alias("c_space"),
    )
    p = lambda c: F.col(c) / F.col("c_total")  # noqa: E731
    p_other = (F.col("c_total") - F.col("c_alpha") - F.col("c_digit") - F.col("c_space")) / F.col(
        "c_total"
    )
    gini = F.lit(1.0) - (
        p("c_alpha") * p("c_alpha")
        + p("c_digit") * p("c_digit")
        + p("c_space") * p("c_space")
        + p_other * p_other
    )
    nonzero = F.col("c_total") > 0  # all-empty-text groups: NULL, not 0/0
    return agg.select(
        "lang",
        "n_docs",
        "c_alpha",
        "c_digit",
        "c_space",
        F.round(F.when(nonzero, p("c_alpha")), 4).alias("alpha_ratio"),
        F.round(F.when(nonzero, gini), 4).alias("class_gini"),
    )


def q_score_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source score normalization: z-score from exact integer moment
    sums + percent_rank — the standard pre-mixing normalization step for
    corpus quality scores (each source's scorer has its own scale; mixing
    policies need comparable units).  Extends SURVEY §2.4 A7/A15.

    Engine-exact: moments (n, Σx, Σx²) are exact integers summed as
    window aggregates, the closed-form z is identical IEEE arithmetic on
    both engines (same shape as q_corr_stats), and percent_rank is
    rational.  ONE shuffle: all three windows share partitionBy(source),
    and percent_rank's sort happens within those partitions."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source")
    wo = Window.partitionBy("source").orderBy("n_chars")
    stats = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum("n_chars").over(w).cast("double").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).over(w).cast("double").alias("ss"),
        F.percent_rank().over(wo).alias("pct"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    # zero variance (or a single-doc source) → no z-score, not a 0-division
    # (ANSI mode raises on x/0.0; the oracle's CASE yields NULL identically)
    z = F.when(
        n * ss - s * s > 0,
        (F.col("n_chars") - s / n) / F.sqrt((n * ss - s * s) / (n * (n - F.lit(1.0)))),
    )
    return stats.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(z, 4).alias("z_score"),
        F.round(F.col("pct"), 4).alias("pct_rank"),
    )


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for training-batch efficiency: power-of-2
    token-count buckets with exact padding-waste accounting (pad every
    sequence in a bucket to the bucket's capacity -> waste = padded -
    real).  The report every batching policy is tuned against;
    complements q_pack_sequences (which ELIMINATES the waste this query
    MEASURES).

    Engine-exact WITHOUT libm log2: the ceil-to-power-of-2 bucket is
    ``2^bitlen(n-1)`` computed from the binary-string length of the
    integer -- pure integer/string ops in both engines.  One narrow
    shuffle of (bucket, 3 integers)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint")
    bits = F.length(F.conv((F.col("n_tok") - 1).cast("string"), 10, 2)).cast("int")
    # shiftleft's Python wrapper only takes an int bit count; the SQL
    # function accepts a column — call it directly (same as ml/bloom.py)
    bucket = F.when(F.col("n_tok") <= 1, F.lit(1)).otherwise(
        F.call_function("shiftleft", F.lit(1), bits)
    ).cast("bigint")
    return (
        docs.select(n_tok.alias("n_tok"))
        .select("n_tok", bucket.alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_tok").alias("real_tokens"),
        )
        .select(
            "bucket_len",
            "n_seqs",
            "real_tokens",
            (F.col("n_seqs") * F.col("bucket_len")).alias("padded_tokens"),
            (F.col("n_seqs") * F.col("bucket_len") - F.col("real_tokens")).alias(
                "waste_tokens"
            ),
        )
    )


def q_judge_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the marker-voting language classifier
    (ml/textstats.q_lang_id) and ground truth, as binary is-English
    judges — the inter-judge agreement statistic the reference's
    LLM-as-judge tier needs (ref experiment_judgments carries multiple
    judge_models per answer; the reference never computes agreement).

    kappa = (po - pe) / (1 - pe), all terms rational in exact integer
    counts from ONE aggregate over the classifier output — engine-exact,
    no libm.  Scale: one scan + one 1-row reduction."""
    from lexam_data_pipeline_spark.ml.textstats import q_lang_id

    scored = q_lang_id(spark, sf_dir).select(
        (F.col("lang") == "en").cast("int").alias("t"),
        (F.col("predicted_lang") == "en").cast("int").alias("p"),
    )
    c = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("t") == 1) & (F.col("p") == 1)).cast("int")).alias("tp"),
        F.sum(((F.col("t") == 0) & (F.col("p") == 0)).cast("int")).alias("tn"),
        F.sum(((F.col("t") == 0) & (F.col("p") == 1)).cast("int")).alias("fp"),
        F.sum(((F.col("t") == 1) & (F.col("p") == 0)).cast("int")).alias("fn"),
    )
    n = F.col("n").cast("double")
    po = (F.col("tp") + F.col("tn")) / n
    pe = (
        (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn"))
        + (F.col("tn") + F.col("fn")) * (F.col("tn") + F.col("fp"))
    ) / (n * n)
    return c.select(
        "n",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("tn").cast("bigint").alias("tn"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.round(po, 4).alias("observed_agreement"),
        # pe=1 (homogeneous labels) → kappa undefined, not a 0/0 crash
        F.round(
            F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 4
        ).alias("kappa"),
    )


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall sweep for a threshold classifier (predict
    'purchase' when ``value >= t``) over a fixed threshold grid — the
    eval every trained quality-filter needs before a curation rollout
    (SURVEY north star; ref experiment_stats stops at accuracy).

    Scale shape: ONE wide aggregate computes tp/fp/fn for every
    threshold as conditional sums (map-side combined, zero extra
    shuffle), then ``stack`` pivots the single row into per-threshold
    rows — never a thresholds×events cross join.  All ratios divide
    exact integers."""
    ev = load_table(spark, sf_dir, "events")
    thresholds = [25, 50, 100, 150, 200, 250, 300, 350, 400, 450]
    pos = F.col("event_type") == "purchase"
    aggs = [F.sum(pos.cast("int")).alias("pos_total")]
    for t in thresholds:
        hit = F.col("value") >= t
        aggs.append(F.sum((pos & hit).cast("int")).alias(f"tp_{t}"))
        aggs.append(F.sum(((~pos) & hit).cast("int")).alias(f"fp_{t}"))
    wide = ev.agg(*aggs)
    stack_args = ", ".join(f"{t}, tp_{t}, fp_{t}" for t in thresholds)
    long = wide.select(
        "pos_total",
        F.expr(
            f"stack({len(thresholds)}, {stack_args}) AS (threshold, tp, fp)"
        ),
    )
    return long.select(
        F.col("threshold").cast("int").alias("threshold"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.round(
            F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(0.0)),
            4,
        ).alias("precision"),
        F.round(
            F.when(F.col("pos_total") > 0, F.col("tp") / F.col("pos_total")), 4
        ).alias("recall"),
    )


def q_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly report: per event type, how many hourly
    activity buckets sit beyond 2.5 sigma of that type's hourly mean —
    the monitoring query every ingest pipeline runs over its own volume
    telemetry (ST2 analog; ref progress.py tracks rates but never
    baselines them).

    Engine-exact: hourly counts are integers; mean/std come from exact
    integer window moments (same shape as q_score_normalize); the z
    comparison is identical IEEE arithmetic in both engines, guarded
    against zero variance.  Two shuffles: the hourly rollup, then the
    per-type moments window + final aggregate on the same partitioning."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type")
    m = (
        hourly.withColumn("n", F.count(F.lit(1)).over(w).cast("double"))
        .withColumn("s", F.sum("cnt").over(w).cast("double"))
        .withColumn("ss", F.sum(F.col("cnt") * F.col("cnt")).over(w).cast("double"))
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    z = F.when(
        n * ss - s * s > 0,
        (F.col("cnt") - s / n) / F.sqrt((n * ss - s * s) / (n * (n - F.lit(1.0)))),
    )
    flagged = m.withColumn("z", z)
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.when(F.abs(F.col("z")) > 2.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_anomalous"),
        F.round(F.max(F.abs(F.col("z"))), 4).alias("max_abs_z"),
    )


#: co-occurrence blow-up guards: per-doc distinct-term ceiling (bounds
#: the worst single document's O(v²) pair fan-out) and document-frequency
#: ceiling (drops stopword-grade terms).  Mirrored verbatim in the oracle.
COOCCUR_MAX_TERMS_PER_DOC = 256
COOCCUR_MAX_DF = 1000


def q_cooccur_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence lift: top-15 word pairs by
    ``P(a,b) / (P(a)·P(b))`` over document-level presence — the
    log-free PMI twin used to mine collocations / topic seeds during
    corpus analysis.

    Lift is rational in exact integer doc counts, floor-scaled to int64
    (order-independent); deterministic (lift, a, b) tiebreak before the
    LIMIT.

    Scale: pairs explode as presence-pairs per doc — O(v²) in DISTINCT
    terms per doc — so BOTH standard caps are applied before the
    self-join (and mirrored exactly in the oracle): a deterministic
    per-doc ceiling of ``COOCCUR_MAX_TERMS_PER_DOC`` lexicographically
    smallest distinct terms (bounds the worst single document), and a
    document-frequency ceiling ``COOCCUR_MAX_DF`` dropping
    stopword-grade terms that explode pair counts while carrying no
    lift signal (same mitigation as q_dedup_ngram_jaccard).  The pair
    aggregate is map-side combined and the top-k compiles to
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.slice(
            F.array_sort(
                F.array_remove(F.array_distinct(F.split(F.trim("text"), r"\s+")), "")
            ),
            1,
            COOCCUR_MAX_TERMS_PER_DOC,
        ).alias("ts"),
    )
    n_docs = toks.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = toks.select("doc_id", F.explode("ts").alias("t"))
    term_n = terms.groupBy(F.col("t")).agg(F.count(F.lit(1)).alias("tn"))
    # df ceiling as an ANTI-join against the high-df terms: that set is
    # small by construction (few terms exceed the ceiling) so it stays
    # broadcast-able at any corpus size, whereas the kept vocabulary grows
    # with the corpus
    stop = term_n.filter(F.col("tn") > COOCCUR_MAX_DF).select("t")
    # NOT persisted (r11 A/B: persisting term_n + kept was a wash —
    # AQE's runtime exchange reuse already shares the vocab aggregate)
    kept = terms.join(F.broadcast(stop), "t", "left_anti")
    pairs = (
        kept.alias("x")
        .join(kept.alias("y"), "doc_id")
        .filter(F.col("x.t") < F.col("y.t"))
        .groupBy(F.col("x.t").alias("a"), F.col("y.t").alias("b"))
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )
    an = term_n.select(F.col("t").alias("a"), F.col("tn").alias("a_n"))
    bn = term_n.select(F.col("t").alias("b"), F.col("tn").alias("b_n"))
    scored = (
        pairs.join(F.broadcast(an), "a")
        .join(F.broadcast(bn), "b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "a",
            "b",
            "pair_n",
            F.floor(
                ((F.col("pair_n") * F.col("n_docs")) / (F.col("a_n") * F.col("b_n")))
                * F.lit(1000000.0)
            ).cast("bigint").alias("lift_scaled"),
        )
    )
    return (
        scored.orderBy(F.desc("lift_scaled"), F.asc("a"), F.asc("b"))
        .limit(15)
        .select(
            "a",
            "b",
            "pair_n",
            "lift_scaled",
            F.round(F.col("lift_scaled") / F.lit(1000000.0), 4).alias("lift"),
        )
    )


def q_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-consistency by majority vote (SURVEY §2.4 A13 extension —
    ref experiment_stats.py:262-284 computes only unanimity; majority
    vote is the standard n_answers>1 aggregation): per customer with ≥3
    orders, the modal order status, its vote count, and its share.

    Mode = row_number over (votes desc, status asc) — deterministic
    tiebreak both engines.  Two shuffles: the (key, status) vote count,
    then ONE key-partitioned exchange shared by both windows (rank and
    total); share divides exact integers."""
    orders = load_table(spark, sf_dir, "orders")
    votes = orders.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("votes"), F.asc("o_orderstatus")
    )
    wt = Window.partitionBy("o_custkey")
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .withColumn("n_orders", F.sum("votes").over(wt))
        .filter((F.col("rn") == 1) & (F.col("n_orders") >= 3))
        .select(
            "o_custkey",
            F.col("o_orderstatus").alias("modal_status"),
            "votes",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.round(F.col("votes") / F.col("n_orders"), 4).alias("vote_share"),
        )
    )


# --------------------------------------------------------------------------
# Round 4: skyline, graph triangles, SCD2 dimension build, event transitions
# --------------------------------------------------------------------------


def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders: minimize price, maximize
    recency — no other order is both cheaper-or-equal AND newer-or-equal
    with one strict.  The classic multi-criteria shortlist operator
    (Börzsönyi et al., ICDE 2001).

    Scale shape — the textbook distributed skyline split:

    1. **Local prefilter** (Arrow batch, vectorized numpy): within each
       batch, sort by (price asc, date desc) and keep rows whose date is
       ≥ the running max of earlier dates.  Every globally non-dominated
       row survives (dominance within a subset implies dominance in the
       full set), so the prefilter is a correctness-preserving superset;
       it shrinks n to ~|skyline| · n_batches.
    2. **Exact global pass** on the surviving candidates via two window
       checks over integer cents: strictly-cheaper rows (RANGE … 1
       PRECEDING) must all be strictly older, and same-price rows must
       not be strictly newer.  The global window is un-partitioned, which
       is exactly why the prefilter exists — it only ever sees the tiny
       candidate union.

    Exact integer comparisons throughout → oracle hash-match (DuckDB
    NOT EXISTS dominance, the O(n²) reference form)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        F.unix_micros(F.col("o_orderdate")).alias("date_us"),
    )

    def local_skyline(batches):
        import numpy as np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                yield pdf
                continue
            order = np.lexsort((-pdf["date_us"].values, pdf["price_c"].values))
            dates = pdf["date_us"].values[order]
            runmax = np.maximum.accumulate(
                np.concatenate(([np.iinfo(np.int64).min], dates[:-1]))
            )
            keep = order[dates >= runmax]
            yield pdf.iloc[np.sort(keep)]

    cand = orders.mapInPandas(
        local_skyline, schema="o_orderkey long, price_c long, date_us long"
    )
    w_cheaper = (
        Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("price_c")
    return (
        cand.withColumn("max_date_cheaper", F.max("date_us").over(w_cheaper))
        .withColumn("max_date_same", F.max("date_us").over(w_same))
        .filter(
            (F.col("max_date_cheaper").isNull() | (F.col("max_date_cheaper") < F.col("date_us")))
            & (F.col("max_date_same") == F.col("date_us"))
        )
        .select(
            "o_orderkey",
            F.round(F.col("price_c") / 100.0, 2).alias("price"),
            "date_us",
        )
    )


#: mutual-kNN sparsification of the co-purchase graph: an edge survives
#: only if each endpoint ranks the other among its TOP-K strongest
#: co-purchase partners (support desc, neighbor asc tiebreak).  The raw
#: fixture graph is near-complete (91% density at sf0.1; an absolute
#: support threshold stops sparsifying as soon as the corpus grows —
#: measured 8.5× on the 10× probe), while mutual top-K hard-bounds every
#: degree at K regardless of corpus size, so the wedge join is ≤ |V|·K²
#: forever.  The standard similarity-graph construction.  Mirrored
#: verbatim in the oracle.
TRIANGLE_TOP_K = 10


def copurchase_mutual_topk(
    spark: SparkSession, sf_dir: str, k: int, materialize: bool = True
) -> DataFrame:
    """Mutual-top-K supplier co-purchase pairs ``(u, v)`` with ``u < v``.

    Support = number of distinct orders both suppliers appear in; each
    node keeps its K strongest neighbours and an undirected edge
    survives only when BOTH endpoints kept it.  |E| ≤ K·|V| at ANY
    corpus density — the sparsifier that stays a sparsifier under 10×
    corpus duplication (a fixed absolute support threshold does not;
    measured in SCALE.md round 4).

    Pair generation is one groupBy to per-order supplier SETS (distinct
    (order, supplier) — a supplier listed twice in an order is one
    co-occurrence), then a map-side double explode.  A/B-measured 2×
    faster than the equivalent self-join at sf0.1 (1.1 s vs 2.1 s warm:
    the join pays two SMJ sorts; this shape pays one narrow shuffle).

    ``materialize=True`` (default) ``localCheckpoint``s the FINAL pair
    set — ≤ K·|V| rows, ~2.7k at sf0.1 — so multi-consumer plans
    (BFS's three hop joins, the triangle's three pair references, LPA's
    symmetrize+iterate) read a tiny materialized table instead of
    re-expanding the pipeline per reference.  Round-10 bisect of the
    q_graph_bfs regression: the round-9 count-2 rewrite made the output
    tiny and join-free, flipping the round-4 verdict against caching —
    measured at sf0.1 (3 quiet runs): BFS 4.3 → 3.6 s, triangle
    3.0 → 2.0 s, LPA 3.1 → 2.4 s.  (The round-4 "persists harmful"
    result persisted UPSTREAM stages of the then-self-join pipeline;
    checkpointing the post-aggregate output is the opposite trade.)
    Pass ``materialize=False`` to inspect the logical pipeline
    (tests/test_plans.py does, to assert the no-self-join shape).

    Shared by :func:`q_triangle_count` and :func:`q_graph_bfs`."""
    li = load_table(spark, sf_dir, "lineitem", fan=True).select("l_orderkey", "l_suppkey")
    sets = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("ss"))
    support = (
        sets.select(F.explode("ss").alias("u"), "ss")
        .select("u", F.explode("ss").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    directed = support.select("u", "v", "support").unionByName(
        support.select(F.col("v").alias("u"), F.col("u").alias("v"), "support")
    )
    w_knn = Window.partitionBy("u").orderBy(F.desc("support"), F.asc("v"))
    kept = (
        directed.withColumn("rn", F.row_number().over(w_knn))
        .filter(F.col("rn") <= k)
        .select("u", "v")
    )
    # mutual: keep (u, v) only when BOTH directions survived.  `kept`
    # holds exactly the two oriented rows of each undirected pair, so
    # "both survived" is a count-2 group on the canonical (lo, hi) key —
    # one shuffle, replacing the two-sided self-join (A/B round 9:
    # identical 2753-pair output, ~8% faster at sf0.1, and at scale one
    # hash exchange instead of a join's two sorted/shuffled sides).
    pairs = (
        kept.groupBy(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 2)
        .select("u", "v")
    )
    return pairs.localCheckpoint() if materialize else pairs


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the mutual-top-K supplier co-purchase graph via
    degree-ordered edge orientation — the standard scalable algorithm
    (each undirected edge is directed from its lower-(degree, id)
    endpoint, so every wedge join's fan-out is bounded by O(√m); with
    the mutual-kNN build, additionally by K; triangles are counted
    exactly once, no division by 6).

    Shuffles: one groupBy for pair support, one partitionBy(node) window
    for the top-K ranking, one groupBy for degrees (broadcast back —
    |V| rows), one self-join on the oriented wedge.  Exact integer
    count → oracle hash-match."""
    pairs = copurchase_mutual_topk(spark, sf_dir, TRIANGLE_TOP_K)
    deg = (
        pairs.select(F.col("u").alias("n"))
        .union(pairs.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    oriented = (
        pairs.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.t") == F.col("e2.s"))
        .select(
            F.col("e1.s").alias("x"), F.col("e1.t").alias("y"), F.col("e2.t").alias("z")
        )
    )
    closing = oriented.select(F.col("s").alias("x"), F.col("t").alias("z"))
    tri = wedges.join(closing, ["x", "z"])
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from the event stream: per
    user, collapse consecutive runs of the same event_type into validity
    intervals [valid_from, valid_to) with an is_current flag — the
    standard lakehouse CDC pattern for dimension history.

    One shuffle (partitionBy user + in-partition sort) feeds all three
    window steps: change detection (lag), run numbering (cumulative
    sum), and interval close-out (lead of the next run's start).
    Deterministic: events tie-broken by event_id; timestamps emitted as
    epoch micros."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    runs = (
        ev.withColumn(
            "changed",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn("run_id", F.sum("changed").over(w))
        .groupBy("user_id", "run_id")
        .agg(
            F.first("event_type").alias("event_type"),
            F.min("ts_us").alias("valid_from_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w_runs = Window.partitionBy("user_id").orderBy("run_id")
    return (
        runs.withColumn("valid_to_us", F.lead("valid_from_us").over(w_runs))
        .withColumn(
            "is_current", F.when(F.col("valid_to_us").isNull(), 1).otherwise(0)
        )
        .select(
            "user_id",
            F.col("run_id").cast("bigint").alias("version"),
            "event_type",
            "valid_from_us",
            "valid_to_us",
            "n_events",
            "is_current",
        )
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior model: counts and probabilities of
    (event_type → next event_type) transitions within each user's
    ordered stream — the Markov-edge mining behind funnel discovery and
    next-action prediction features.

    One shuffle for the per-user lead window, one map-side-combined
    groupBy on the (from, to) pair; probability is exact integer counts
    divided once.  Top-20 by count with full deterministic tiebreak."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return (
        trans.withColumn("from_total", F.sum("n").over(w_from))
        .select(
            "from_type",
            "to_type",
            "n",
            F.col("from_total").cast("bigint").alias("from_total"),
            F.round(F.col("n") / F.col("from_total"), 4).alias("prob"),
        )
        .orderBy(F.desc("n"), F.asc("from_type"), F.asc("to_type"))
        .limit(20)
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + forward fill: daily revenue per order
    priority densified onto a complete calendar spine (missing days
    appear with the last seen value carried forward and a gap flag) —
    the standard pre-step before any window/trend model over sparse
    activity data.

    Spine = cross join of the distinct keys with a JVM-generated
    ``sequence(min_day, max_day)`` explode (both sides tiny: |keys| ×
    |days| rows total, no corpus re-scan); the fill is one
    ``last_value IGNORE NULLS`` window per key.  Shuffles: the daily
    pre-aggregate, then one partitionBy(key) window.  Revenue summed as
    integer cents → exact; oracle mirrors with generate_series."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_c")
    )
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = (
        daily.select("priority")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "priority",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"),
        )
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        spine.join(daily, ["priority", "day"], "left")
        .withColumn("filled_rev_c", F.last("rev_c", ignorenulls=True).over(w))
        .withColumn("is_gap", F.when(F.col("rev_c").isNull(), 1).otherwise(0))
    )
    return filled.select(
        "priority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.coalesce(F.col("filled_rev_c"), F.lit(0)) / 100.0, 2).alias(
            "revenue"
        ),
        "is_gap",
    )


def _cell_marginals(rows, key_a: str, key_b: str, val: str):
    """(counts, a_tot, b_tot, n) from collected contingency rows — the
    shared driver-side finish for every sufficient-statistic key
    (:func:`q_chi_square`, :func:`q_mutual_information`,
    :func:`q_js_divergence`), so boundary/parity fixes land once."""
    counts = {(r[key_a], r[key_b]): r[val] for r in rows}
    a_tot: dict = {}
    b_tot: dict = {}
    for (a, b), c in counts.items():
        a_tot[a] = a_tot.get(a, 0) + c
        b_tot[b] = b_tot.get(b, 0) + c
    return counts, a_tot, b_tot, sum(a_tot.values())


def _d18(c: str) -> Column:
    """decimal(18,0) operand cast for overflow-critical integer products:
    cast BEFORE multiplying so the product gets precision 37 (exact under
    Spark's 38 cap) instead of wrapping in BIGINT.  One definition so a
    future precision change cannot diverge between the rank-statistics
    keys (round-5 review).

    CEILING: |operand| must stay BELOW 1e18 (one digit under BIGINT
    max).  In non-ANSI mode a cast overflow becomes NULL and the value
    silently DROPS from the moment sums — invisible at fixture scale.
    Current operands clear it at 100 TB row counts: doubled ranks ≤
    2n+1 and cumulative counts ≤ n stay ≤ ~1e13 (≥5 orders of headroom);
    day-aggregated revenue cents (~1e11 at sf0.1) scale linearly to
    ~1e17 at sf1e5 — inside the ceiling but the tightest family, so any
    NEW cents-like operand must re-check its magnitude budget here.
    ``tests/test_review_regressions.py::TestD18Ceiling`` asserts the
    sf0.1 operand maxima so a future reuse on a larger-magnitude column
    fails a test instead of nulling out (round-6 advice)."""
    return F.col(c).cast("decimal(18,0)")



def _d12(c: str) -> Column:
    """decimal(12,0) operand cast for TRIPLE products (q_welch_ttest's
    c·x², q_cuped_adjustment / q_ab_power moments): Spark's product
    precision rule p = p1+p2+1 makes d12·d12·d12 land exactly at the
    38-digit cap, so each factor must stay below 1e12.  Current
    operands: cent values ≤ ~6e9 and per-distinct-value counts ≤ ~1e4
    at 100 TB row counts — ≥2 orders of headroom (same silent-NULL
    hazard as _d18; one definition so a precision change cannot diverge
    between the moment keys — round-7 review)."""
    return F.col(c).cast("decimal(12,0)")

def _null_first(v):
    """Sort key for driver-side category walks that tolerates a NULL
    category (None is unorderable against str — a NULL `source` row
    crashed the naive sorted(); review finding, round 5).  Row order
    only affects presentation: the driver compare is order-insensitive."""
    return (v is not None, v if v is not None else "")


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between market segment and order
    priority: one contingency-table aggregate, then the statistic from
    exact integer counts — ``Σ (o - e)² / e`` with expected counts
    ``row_total × col_total / n`` computed as one deterministic double
    expression per cell (no libm), plus degrees of freedom.

    The distribution-vs-distribution drift test a corpus pipeline runs
    between ingest batches.  Shuffles: one groupBy on the (segment,
    priority) pair; the bounded |segs|×|prios| cell table is the
    sufficient statistic and finishes on the driver over the FULL grid —
    including zero-count cells, whose ``(0−e)²/e = e`` terms a
    cells-only sum silently drops, understating the statistic exactly
    when a category empties out (the drift most worth catching)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cells = collect_bounded(
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        # NULL categories are missing data, not a category — excluded on
        # BOTH engines (the oracle grid join would silently drop them)
        .where(
            F.col("c_mktsegment").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).alias("o")),
        _MAX_CELL_ROWS,
        "q_chi_square segment×priority cell table",
    )
    schema = "_s bigint, dof bigint, n bigint"
    counts, row_tot, col_tot, n = _cell_marginals(cells, "seg", "prio", "o")
    # degenerate empty join: schema-stable empty result; the oracle's
    # HAVING count(*) > 0 mirrors the zero-row output (round-6 advice)
    if n == 0:
        return local_rows(spark, [], schema).select(
            F.col("_s").cast("double").alias("chi2"), "dof", "n"
        )
    # each grid cell's term is one fixed IEEE expression (float() before
    # dividing mirrors the oracle's BIGINT→DOUBLE division), floor-scaled
    # ×1e6 to int64 BEFORE the sum so order cannot perturb the statistic
    s_chi = 0
    for s in row_tot:
        for p in col_tot:
            o = counts.get((s, p), 0)
            e = float(row_tot[s] * col_tot[p]) / float(n)
            s_chi += math.floor(((o - e) * (o - e) / e) * 1000000.0)
    row = local_rows(
        spark,
        [(s_chi, (len(row_tot) - 1) * (len(col_tot) - 1), n)], schema
    )
    return row.select(
        F.round(F.col("_s") / F.lit(1000000.0), 4).alias("chi2"),
        "dof",
        "n",
    )


BFS_MAX_HOPS = 3
BFS_SEED_NATION = 0


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-hop BFS neighbourhood: every supplier within
    :data:`BFS_MAX_HOPS` co-purchase hops of the nation-0 suppliers,
    with its hop distance.  The "suppliers adjacent to a recalled
    vendor" / contamination-radius query every supply-chain (and
    citation/link) analysis runs.

    Graph = the same mutual-top-K sparsifier as ``q_triangle_count``
    (:func:`copurchase_mutual_topk` — |E| ≤ K·|V| at any corpus
    density), symmetrized.  Expansion is level-synchronous frontier
    joins (``ml.graph.bfs_hops``); the DuckDB oracle is the recursive
    CTE this replaces — min(hop) over a hop-bounded reachability
    closure, exact integer output → hash-match."""
    from lexam_data_pipeline_spark.ml.graph import bfs_hops

    pairs = copurchase_mutual_topk(spark, sf_dir, TRIANGLE_TOP_K)
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(pairs.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == BFS_SEED_NATION)
        .select(F.col("s_suppkey").alias("node"))
    )
    return bfs_hops(edges, seeds, BFS_MAX_HOPS).select(
        F.col("node").cast("bigint").alias("node"), "hop"
    )


#: snapshot-diff simulation: the "old" snapshot is the book as of
#: SNAP_OLD_CUTOFF; the "new" snapshot archives (deletes) finished
#: orders older than SNAP_ARCHIVE_BEFORE and restates (updates) the
#: total price of still-open orders by +5%.
SNAP_OLD_CUTOFF = "2000-01-01"
SNAP_ARCHIVE_BEFORE = "1997-01-01"


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff: classify every order key across two snapshot
    versions of the orders book as inserted / deleted / updated /
    unchanged, returning per-class row counts and an exact integer key
    checksum.  The change-data-capture primitive behind incremental
    table maintenance (Delta/Iceberg MERGE planning, reverse-ETL
    diffing, audit).

    One full-outer join on the snapshot key; both snapshots derive
    from the same scan, so AQE reuses the exchange.  100 TB shape:
    snapshot diff is THE canonical co-partitioned sort-merge join —
    bucket both snapshot tables by key at write time and the diff is
    shuffle-free; per-class aggregate is a 4-group partial agg.  The
    checksum is sum(orderkey) per class (exact int64, order-independent)
    rather than a float delta, so the hash-match is scheduling-proof."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    old = orders.filter(F.col("o_orderdate") < F.lit(SNAP_OLD_CUTOFF).cast("timestamp"))
    new = orders.filter(
        ~(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") < F.lit(SNAP_ARCHIVE_BEFORE).cast("timestamp"))
        )
    ).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderstatus") == "O", F.col("o_totalprice") * F.lit(1.05)
        ).otherwise(F.col("o_totalprice")),
    )
    j = old.select(
        F.col("o_orderkey").alias("k_old"),
        F.col("o_orderstatus").alias("st_old"),
        F.col("o_totalprice").alias("pr_old"),
    ).join(
        new.select(
            F.col("o_orderkey").alias("k_new"),
            F.col("o_orderstatus").alias("st_new"),
            F.col("o_totalprice").alias("pr_new"),
        ),
        F.col("k_old") == F.col("k_new"),
        "full_outer",
    )
    classified = j.select(
        F.coalesce(F.col("k_old"), F.col("k_new")).alias("k"),
        F.when(F.col("k_old").isNull(), F.lit("insert"))
        .when(F.col("k_new").isNull(), F.lit("delete"))
        .when(
            (F.col("st_old") != F.col("st_new"))
            | (F.col("pr_old") != F.col("pr_new")),
            F.lit("update"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    )
    return classified.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("k").cast("bigint").alias("key_checksum"),
    )


#: Knuth multiplicative hash → pseudo-score in [0, 1): kept as an exact
#: int64 numerator over CALIB_MOD so per-bin score sums are integer
#: (aggregation-order-proof); one double division at the very end.
CALIB_MULT = 2654435761
CALIB_MOD = 1000003
CALIB_BINS = 10


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration reliability table (the per-bin form of expected
    calibration error): bucket a deterministic pseudo-confidence score
    into deciles and compare each bin's mean predicted score with its
    observed positive rate (order completed, ``o_orderstatus = 'F'``).
    The eval-tier diagnostic run on every LLM-judge / classifier score
    column before trusting it for filtering.

    Scores are Knuth-hash rationals ``h/CALIB_MOD`` carried as int64
    numerators: bin assignment is pure integer arithmetic, per-bin sums
    are exact, and the only float ops are two final divisions + one
    subtraction per bin — deterministic across engines and partitions.
    One map + one 10-group partial aggregate: no shuffle pressure at
    any scale."""
    orders = load_table(spark, sf_dir, "orders")
    # reduce mod CALIB_MOD BEFORE multiplying: (a·m) mod p == ((a mod p)·m)
    # mod p, and the reduced product tops out at ~2.7e15 — no int64 wrap
    # at any orderkey scale (the unreduced product overflows past ~3.5e9)
    h = F.pmod(
        F.pmod(F.col("o_orderkey"), F.lit(CALIB_MOD)) * F.lit(CALIB_MULT),
        F.lit(CALIB_MOD),
    )
    scored = orders.select(
        h.alias("h"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    ).withColumn(
        "bin",
        ((F.col("h") * F.lit(CALIB_BINS)) / F.lit(CALIB_MOD))
        .cast("bigint")
        .cast("int"),
    )
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("h") / (F.lit(float(CALIB_MOD)) * F.count(F.lit(1))), 6
        ).alias("avg_score"),
        F.round(F.sum("label") / F.count(F.lit(1)), 6).alias("frac_pos"),
        F.round(
            F.abs(
                F.sum("h") / (F.lit(float(CALIB_MOD)) * F.count(F.lit(1)))
                - F.sum("label") / F.count(F.lit(1))
            ),
            6,
        ).alias("abs_gap"),
    )


def q_hll_merge_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct-user rollup: per-DAY HLL sketches merged into
    per-WEEK estimates with ``hll_union_agg`` — the pre-aggregation
    pattern that makes distinct counting cheap at 100 TB: the lake
    stores one ~1 KB sketch per (day, dimension) instead of raw keys,
    and ANY coarser window (week, month, lifetime) is a sketch merge
    over those rows — no rescan of the events, associative, and safe to
    maintain incrementally (streaming/sketches.py is the same idea for
    CMS).

    Rows-only for the driver (DataSketches estimates aren't
    DuckDB-replicable — q_hll_distinct precedent); pytest pins BOTH
    properties instead: merged-of-daily equals one direct weekly sketch
    (losslessness of the pre-aggregation) and both land within 3% of
    exact (tests/test_scale_operators.py)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(14)).alias("sk")
    )
    return (
        daily.groupBy(F.date_trunc("week", F.col("day")).alias("week"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("sk")))
            .cast("bigint")
            .alias("approx_distinct_users")
        )
    )


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per order priority: the MEDIAN of all
    pairwise slopes of monthly revenue over time — the estimator that
    shrugs off outlier periods where an OLS slope (q_corr_stats'
    cousin) gets dragged.  Standard robust-stats tier for drift
    monitoring.

    Scale shape: the quadratic pair join runs on the CALENDAR-grain
    pre-aggregate, so its size is months²-per-group — bounded by the
    time span, independent of fact-table row count (100 TB of orders
    over 7 years is still ~80 spine rows per group, ~3k pairs).  The
    grain is a real constraint, not a convenience: a DAY-grain spine
    over 7 years yields ~2M pair slopes per group, and the exact-median
    buffer for that OOMs a 1 GiB driver (measured) — pick the grain so
    pairs-per-group stays thousands, or switch to approx_percentile
    (operators/approx.py).  Monthly revenue uses the exact decimal sum
    (house float-parity rule); each slope is one deterministic double
    expression; the exact median interpolates identically in both
    engines (q_percentile_multi precedent)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("month", "o_orderdate").alias("day"),
    ).agg(_dec_sum("o_totalprice").alias("rev")).withColumn(
        "d", F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.prio") == F.col("b.prio")) & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.prio").alias("prio"),
        (
            (F.col("b.rev") - F.col("a.rev")) / (F.col("b.d") - F.col("a.d"))
        ).alias("slope"),
    )
    return pairs.groupBy("prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5D)"), 6).alias("sen_slope"),
    )


def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth curve every product
    dashboard draws.  The scalable idiom: a running COUNT(DISTINCT) is
    NOT a windowed distinct (quadratic re-scan per frame); each user
    contributes exactly once at their FIRST-SEEN day, so the curve is
    ``min(day) per user → count per day → cumulative sum`` — two narrow
    aggregates plus one running-total window over |days| rows.

    At 100 TB: the per-user min is a map-side-combinable aggregate on
    user_id; everything after runs on the tiny day spine."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    per_day = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly stickiness: average daily-active-users over the week's
    ACTIVE days divided by weekly-active-users — the exact-count twin of
    the q_hll_merge_windows sketch rollup (same rollup lattice, COUNT
    DISTINCT instead of HLL) and the standard engagement ratio.
    Averaging over active days (not a fixed 7) keeps partial first/last
    weeks comparable; a calendar-day denominator is one
    ``F.lit(7)`` swap if fixed-week semantics are wanted.

    Two distinct aggregates sharing one shuffle lineage on (day, user):
    dedup to active (day, user) pairs once, then day and week rollups
    both derive from it.  Ratio is one deterministic double division on
    exact int64 counts."""
    ev = load_table(spark, sf_dir, "events")
    day_user = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    dau = day_user.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    weekly_avg_dau = dau.groupBy(
        F.date_trunc("week", "day").alias("week")
    ).agg(F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days"))
    wau = (
        day_user.groupBy(
            F.date_trunc("week", "day").alias("week"), "user_id"
        )
        .agg(F.lit(1))
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return weekly_avg_dau.join(wau, "week").select(
        "week",
        F.col("wau").cast("bigint").alias("wau"),
        F.round(
            F.col("sum_dau") / (F.col("n_days") * F.col("wau")), 6
        ).alias("stickiness"),
    )


# --------------------------------------------------------------------------
# Interval / sequence analytics (round 4, batch 2): sweep-line peak
# concurrency, MATCH_RECOGNIZE-lite pattern counts, gaps-and-islands
# streaks.  All exact-integer outputs, all DuckDB-oracled.
# --------------------------------------------------------------------------


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line interval
    operator (capacity planning / load-envelope staple).

    Sessions are the same 30-minute-gap sessions as :func:`q_sessionize`;
    each becomes a closed interval ``[min ts, max ts]``, exploded into
    ``+1``/``-1`` boundary deltas.  The load level at any instant is the
    running sum of deltas in ``(ts, delta DESC)`` order (starts sort
    before ends, so back-to-back sessions touching at one instant count
    as concurrent).

    Scale shape — a distributed two-level prefix sum, NOT a global
    ordered window (``Window.orderBy`` with no partition executes in ONE
    task): within-day running sums use a window partitioned by day
    (bounded by one day's deltas ≈ 2x that day's sessions; drop the
    bucket to hour for denser streams), and day-level carry-in offsets
    ride a window over the tiny day spine.  ``peak(day) = carry_in(day)
    + max within-day prefix``.  Ties are benign: rows sharing ``(ts,
    delta)`` carry identical deltas, so every permutation yields the
    same within-run prefix maxima.  Same two-level pattern as
    ``ml/curation.pack_sequences``.
    """
    ev = load_table(spark, sf_dir, "events")
    sid = _session_id()
    intervals = (
        ev.select("user_id", "ts")
        .withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    deltas = intervals.select(
        F.col("start_ts").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(intervals.select(F.col("end_ts").alias("ts"), F.lit(-1).alias("delta")))
    deltas = deltas.withColumn("day", F.date_trunc("day", "ts"))
    w_in_day = (
        Window.partitionBy("day")
        .orderBy(F.col("ts").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per_day = (
        deltas.withColumn("lvl", F.sum("delta").over(w_in_day))
        .groupBy("day")
        .agg(F.max("lvl").alias("max_in_day"), F.sum("delta").alias("day_total"))
    )
    # full day spine: a day with NO boundary deltas can still carry live
    # multi-day sessions, and a day whose only delta is an end peaked at
    # the carry-in level BEFORE it — so peak(day) = carry_in +
    # greatest(max within-day prefix, 0), over every day in range
    bounds = per_day.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("day")
    )
    full = spine.join(per_day, "day", "left").select(
        "day",
        F.coalesce(F.col("day_total"), F.lit(0)).alias("day_total"),
        F.coalesce(F.col("max_in_day"), F.lit(0)).alias("max_in_day"),
    )
    w_spine = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return full.select(
        "day",
        (
            F.coalesce(F.sum("day_total").over(w_spine), F.lit(0))
            + F.greatest(F.col("max_in_day"), F.lit(0))
        )
        .cast("bigint")
        .alias("peak_concurrent"),
    )


def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: count ``view -> purchase`` journeys whose
    interior is only clicks/errors (regex ``v[ce]*p`` over each user's
    time-ordered event-code string) — sequence mining the reference has
    no analog for, and batch SQL usually spells with MATCH_RECOGNIZE.

    One shuffle: per user, collect the (ts, event_id, code) stream,
    sort, join to a code string, count regex matches.  The char class
    excludes both anchors, so every match is uniquely determined by its
    start position — leftmost-nonoverlapping counts agree between Java
    regex (Spark) and RE2-family engines (DuckDB), making the key
    oracle-exact despite crossing regex engines.  At 100 TB the per-user
    string is bounded by per-user activity (the sessionization bound);
    the rollup is a tree aggregate over per-user counts.
    """
    ev = load_table(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", F.lit("v"))
        .when(F.col("event_type") == "click", F.lit("c"))
        .when(F.col("event_type") == "purchase", F.lit("p"))
        .when(F.col("event_type") == "signup", F.lit("s"))
        .otherwise(F.lit("e"))
    )
    per_user = (
        ev.select("user_id", "ts", "event_id", code.alias("code"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "code"))
                    ),
                    lambda s: s["code"],
                ),
                "",
            ).alias("codes")
        )
        .select(
            "user_id",
            F.regexp_count(F.col("codes"), F.lit("v[ce]*p")).alias("n_matches"),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("n_matches") > 0).cast("int")).cast("bigint").alias("users_matched"),
        F.sum("n_matches").cast("bigint").alias("total_matches"),
        F.max("n_matches").cast("bigint").alias("max_matches_per_user"),
        F.round(
            F.sum((F.col("n_matches") > 0).cast("int")) / F.count(F.lit(1)), 4
        ).alias("match_rate"),
    )


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-active-day streak per user,
    rolled up to (streak length, user count) — the engagement-streak
    metric, and the canonical islands problem.

    ONE wide shuffle: active days dedup via ``collect_set`` per user
    (map-side partial), then the longest run is a sequential
    ``F.aggregate`` fold over each user's sorted day array — map-side,
    no second shuffle for the per-user answer (vs the row_number
    anchor-date idiom, which costs distinct + window = two shuffles; the
    oracle uses that idiom precisely so the mechanics are independent).
    The final rollup moves |distinct streak lengths| rows.  Per-user
    arrays are bounded by the calendar (|days in retention window|), not
    by event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set(F.to_date("ts"))).alias("days")
    )
    acc0 = F.struct(
        F.lit(None).cast("date").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    fold = F.aggregate(
        "days",
        acc0,
        lambda acc, d: F.struct(
            d.alias("prev"),
            F.when(F.datediff(d, acc["prev"]) == 1, acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(F.datediff(d, acc["prev"]) == 1, acc["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return (
        days.select(fold.alias("streak_days"))
        .groupBy("streak_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.col("streak_days").cast("bigint"), F.col("n_users").cast("bigint"))
    )


def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers, per
    market segment — the standard inequality measure for "how top-heavy
    is this segment's spend".

    Exact-integer core: per-customer revenue becomes exact CENTS
    (decimal sum × 100 → int64), and the rank formula
    ``G = 2·Σ(i·x_i) / (n·Σx_i) − (n+1)/n`` (x ascending, i = 1..n)
    needs only integer sums — tie-order-invariant, so the row_number
    tiebreak can't perturb the result.  One join (AQE-broadcast
    customer dim), one per-segment window, one aggregate.  Int64 bounds:
    Σ(i·x_i) ≤ n²·max_cents — fine through sf100; the documented switch
    past that is the same sums in ``decimal(38,0)``.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    ranked = rev.join(cust, rev.o_custkey == cust.c_custkey).select(
        "c_mktsegment", "cents", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("sum_x"),
        F.sum(F.col("i") * F.col("cents")).alias("sum_ix"),
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        (F.col("sum_x").cast("double") / F.lit(100.0)).alias("total_revenue"),
        F.round(
            (F.lit(2.0) * F.col("sum_ix")) / (F.col("n_customers") * F.col("sum_x"))
            - (F.col("n_customers") + F.lit(1.0)) / F.col("n_customers"),
            6,
        ).alias("gini"),
    )


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journey prefixes — clickstream path analysis: each
    30-minute-gap session (same sessions as :func:`q_sessionize`)
    contributes its first five event codes joined with ``>``, and paths
    are ranked by session count.

    Scale: the session-id window and per-session collect share one
    shuffle lineage on user_id; the path slice bounds per-session state
    at 5 codes regardless of session length; the final top-20 is a
    TakeOrdered over the (small) distinct-path aggregate, never a global
    sort of sessions."""
    ev = load_table(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", F.lit("v"))
        .when(F.col("event_type") == "click", F.lit("c"))
        .when(F.col("event_type") == "purchase", F.lit("p"))
        .when(F.col("event_type") == "signup", F.lit("s"))
        .otherwise(F.lit("e"))
    )
    sid = _session_id()
    paths = (
        ev.select("user_id", "ts", "event_id", code.alias("code"))
        .withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ts", "event_id", "code"))
                        ),
                        lambda s: s["code"],
                    ),
                    1,
                    5,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


def q_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from HLL sketches alone: for each
    event-type pair, |A|, |B|, |A∪B| come straight from sketches and
    |A∩B| by inclusion–exclusion — the sketch algebra that answers
    "how many users both viewed AND purchased" without rescanning raw
    data (the union sketch is reusable for any pair, unlike an exact
    COUNT DISTINCT which needs a fresh pass per combination).

    One aggregate over events builds ONE sketch per event type; pair
    estimates are pure sketch merges on a 3-row frame (binary
    ``hll_union``, broadcast joins).  Rows-only by design (sketch
    internals aren't ANSI SQL); the pytest oracle bounds every estimate
    against exact distinct counts (±3σ of HLL lg_k=14 ≈ 2.5%, wider for
    the differenced intersection)."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(14)).alias("sk")
    )
    pairs = local_rows(
        spark,
        [("view", "click"), ("view", "purchase"), ("click", "purchase")],
        "type_a string, type_b string",
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    est = (
        pairs.join(F.broadcast(a), "type_a")
        .join(F.broadcast(b), "type_b")
        .select(
            "type_a",
            "type_b",
            F.hll_sketch_estimate("sk_a").alias("est_a"),
            F.hll_sketch_estimate("sk_b").alias("est_b"),
            F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("est_union"),
        )
    )
    return est.select(
        "type_a",
        "type_b",
        "est_a",
        "est_b",
        "est_union",
        (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
            "est_intersection"
        ),
    ).orderBy("type_a", "type_b")


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new (first-ever-seen that day) vs
    returning — the growth-accounting companion to
    :func:`q_running_distinct` (same first-seen-day idiom, but keeping
    the per-day split instead of the cumulative curve).

    Scale: dedup to (day, user) pairs once; the per-user first day is a
    map-side-combinable min; the re-attach joins two tables ALREADY
    pre-aggregated on user_id (AQE broadcasts the first-seen side at
    fixture scale, hash-join co-partitioned on user_id beyond)."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        active.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
        )
        .select(
            "day",
            "n_new",
            "n_returning",
            F.round(
                F.col("n_new").cast("double")
                / (F.col("n_new") + F.col("n_returning")),
                6,
            ).alias("pct_new"),
        )
    )


def q_customer_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers grouped by first-order month, and
    for each cohort the cumulative revenue per customer at each month of
    age — the standard retention-economics triangle, flattened.

    Exact-integer core: monthly revenue in CENTS; month age is pure int
    arithmetic (``(Δyear)*12 + Δmonth`` — never a float months_between).
    Both join sides are pre-aggregated (per-customer-month revenue ⋈
    per-customer first month); the cumulative window runs over the tiny
    (cohort × age) lattice, not over orders."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("month"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    by_month = o.groupBy("o_custkey", "month").agg(F.sum("cents").alias("cents"))
    first = by_month.groupBy("o_custkey").agg(F.min("month").alias("cohort_month"))
    sized = first.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    aged = (
        by_month.join(first, "o_custkey")
        .select(
            "cohort_month",
            (
                (F.year("month") - F.year("cohort_month")) * 12
                + (F.month("month") - F.month("cohort_month"))
            ).alias("month_age"),
            "cents",
        )
        .groupBy("cohort_month", "month_age")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("cohort_month").orderBy("month_age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        aged.withColumn("cum_cents", F.sum("cents").over(w))
        .join(F.broadcast(sized), "cohort_month")
        .select(
            "cohort_month",
            F.col("month_age").cast("bigint"),
            F.col("n_customers").cast("bigint"),
            (F.col("cents").cast("double") / 100.0).alias("cohort_revenue"),
            F.round(
                F.col("cum_cents").cast("double") / 100.0 / F.col("n_customers"), 6
            ).alias("cum_ltv_per_customer"),
        )
    )


def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Lorenz curve in deciles — the distribution behind
    :func:`q_gini_revenue`'s single number: each market segment's
    customers are split into 10 revenue deciles and the curve reports
    each decile's share and cumulative share of segment revenue.

    Same scale shape as the Gini: the ntile window partitions by
    SEGMENT over per-customer revenue (pre-aggregated, orders of
    magnitude smaller than orders; never a global single-partition
    sort), and the share windows run on the 10-row-per-segment
    aggregate.  Deterministic (cents, custkey) tiebreak keeps ntile
    assignment engine-exact."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    deciled = (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "cents", F.ntile(10).over(w).alias("decile"))
        .groupBy("c_mktsegment", "decile")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.sum("cents").alias("cents"))
    )
    w_seg = Window.partitionBy("c_mktsegment")
    w_cum = Window.partitionBy("c_mktsegment").orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return deciled.select(
        "c_mktsegment",
        F.col("decile").cast("bigint"),
        F.col("n_customers").cast("bigint"),
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        F.round(
            F.col("cents").cast("double") / F.sum("cents").over(w_seg), 6
        ).alias("share"),
        F.round(
            F.sum("cents").over(w_cum).cast("double") / F.sum("cents").over(w_seg),
            6,
        ).alias("cum_share"),
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-DURATION histogram: the rollup layer above
    :func:`q_session_window`'s per-session rows — how long sessions run
    and how dense they are, in 10-minute buckets.  Same native
    ``session_window`` aggregate (boundary rule pinned there: a gap of
    exactly 30:00 stays in-session, so the lag-gap oracle idiom applies
    verbatim).

    Buckets and averages stay integer until the final division:
    duration = max(ts) − min(ts) in microseconds; 10-minute buckets
    capped at 60 via integer DIV.  One shuffle on user_id, then a tiny
    bucket rollup.

    Probed upstream hazard (Spark 4.1.2): duration MUST come from the
    ``min(ts)``/``max(ts)`` AGGREGATE functions, not from the
    ``session_window`` struct's start/end.  If every aggregate-function
    output is pruned away (e.g. a derived ``df.count()`` plan), Catalyst
    eliminates the session aggregate entirely and rebuilds the window
    per-ROW as ``[ts, ts+gap)`` — silently dropping the session merge.
    Keeping the bucket derivation on aggregate outputs makes the
    aggregate non-eliminable under any pruning (regression-tested:
    ``count()`` must equal ``len(collect())``)."""
    ev = load_table(spark, sf_dir, "events")
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    bucketed = per_session.select(
        F.least(F.expr("(dur_us DIV 600000000) * 10"), F.lit(60))
        .cast("bigint")
        .alias("dur_bucket_min"),
        "n_events",
    )
    return bucketed.groupBy("dur_bucket_min").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_events"),
        F.max("n_events").cast("bigint").alias("max_events"),
    )


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style ``windowFunnel``: per user, the deepest
    view→click→purchase chain with strictly increasing timestamps that
    fits inside ONE HOUR of the opening view; output is the user count
    at each max level (0 = never viewed).

    Semantics pinned exactly: a chain may start at ANY view, and given
    a fixed start the earliest qualifying click maximizes the chance of
    completing the chain — so per start the greedy step is optimal and
    "max over starts of greedy depth" is the true maximum.  The oracle
    replays the same rule with correlated subqueries.

    Scale shape: one shuffle collects each user's per-type timestamp
    arrays (map-side partial ``collect_list``); the chain search is
    JVM-side higher-order functions over those BOUNDED arrays (per-user
    event counts; no self-join of the events table, which is the naive
    O(|events|²) formulation the oracle uses).  Timestamps stay integer
    micros throughout."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("event_type") == "view", F.col("t")))
        ).alias("views"),
        F.array_sort(
            F.collect_list(F.when(F.col("event_type") == "click", F.col("t")))
        ).alias("clicks"),
        F.array_sort(
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("t")))
        ).alias("purchases"),
    )
    hour = 3600 * 1000000
    # per view v: earliest click in (v, v+1h]; then any purchase in
    # (that click, v+1h].  level(v) = 1 + has_click + has_purchase.
    level = F.when(F.size("views") == 0, F.lit(0)).otherwise(
        F.aggregate(
            F.col("views"),
            F.lit(0),
            lambda acc, v: F.greatest(
                acc,
                F.lit(1)
                + F.when(
                    F.exists(
                        F.col("clicks"),
                        lambda c: (c > v) & (c <= v + F.lit(hour)),
                    ),
                    F.lit(1)
                    + F.when(
                        F.exists(
                            F.col("purchases"),
                            lambda p: (
                                p
                                > F.array_min(
                                    F.filter(
                                        F.col("clicks"),
                                        lambda c: (c > v) & (c <= v + F.lit(hour)),
                                    )
                                )
                            )
                            & (p <= v + F.lit(hour)),
                        ),
                        F.lit(1),
                    ).otherwise(F.lit(0)),
                ).otherwise(F.lit(0)),
            ),
        )
    )
    return (
        per_user.select(level.cast("bigint").alias("funnel_level"))
        .groupBy("funnel_level")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def q_abandoned_carts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart abandonment at SESSION grain (vs :func:`q_funnel_steps`'s
    user grain): among 30-minute-gap sessions that contain a click, how
    many never purchase, and how much clicked-on value walks away.

    One sessionize window + one per-session aggregate + a 1-row rollup;
    value stays exact integer cents until the output."""
    ev = load_table(spark, sf_dir, "events")
    sid = _session_id()
    sessions = (
        ev.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("has_click"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "has_purchase"
            ),
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    (F.col("value").cast("decimal(18,2)") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("click_cents"),
        )
        .filter(F.col("has_click") == 1)
    )
    return sessions.agg(
        F.sum(F.when(F.col("has_purchase") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_abandoned"),
        F.sum(F.when(F.col("has_purchase") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_converted"),
        F.round(
            F.sum(F.when(F.col("has_purchase") == 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("abandonment_rate"),
        (
            F.sum(
                F.when(F.col("has_purchase") == 0, F.col("click_cents")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / 100.0
        ).alias("value_at_risk"),
    )


#: columns profiled by q_table_profile — int/string only, so min/max
#: stringify identically in Spark and DuckDB (doubles format differently)
PROFILE_COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (the deequ/data-quality staple): per
    column of ``orders`` — null count, exact distinct count, min/max —
    computed in a SINGLE aggregate then unpivoted with ``stack``.

    Scale notes: multiple exact COUNT(DISTINCT)s in one aggregate
    compile to Spark's Expand strategy — one shuffle carrying
    #distinct-columns copies of each row.  That is the right exact plan
    at profile cardinalities; the documented 100 TB switch is
    approx_count_distinct (HLL, one copy).  Min/max stringify from
    int/string columns only, so both engines format identically."""
    o = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    aggs = [n.alias("n_rows")]
    for c in PROFILE_COLUMNS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in PROFILE_COLUMNS
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(PROFILE_COLUMNS)}, {stack_args}) AS "
        "(column, n_nulls, n_distinct, min_value, max_value)",
    ).select(
        "column",
        F.col("n_rows").cast("bigint"),
        F.col("n_nulls").cast("bigint"),
        F.col("n_distinct").cast("bigint"),
        "min_value",
        "max_value",
    )


def q_table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of :func:`q_table_profile`: identical
    one-aggregate profiler but with ``approx_count_distinct`` (HLL++,
    rsd 0.01 → ~64 KiB of registers per column, still constant-size)
    replacing every exact COUNT(DISTINCT).

    Why it exists: the exact profiler's multiple COUNT(DISTINCT)s
    compile to Spark's Expand strategy — the one shuffle in this repo
    that necessarily carries a row copy per profiled column (SCALE.md
    measures it at 4.1×, the worst ratio in the table).  Swapping in
    HLL sketches collapses that to ONE copy of each row and a
    constant-size (columns × 2^p registers) aggregation buffer — the
    difference between a profile you can run nightly on a 100 TB fact
    table and one you can't.

    Declared rows-only: HLL++ register layouts and bias corrections are
    engine-specific, so DuckDB's approx_count_distinct need not equal
    Spark's.  The pytest oracle (tests/test_round5_operators.py)
    bounds every column's estimate within 3% of the exact twin —
    well inside the configured rsd — and asserts nulls/min/max equal
    the exact profiler bit-for-bit (those parts are NOT approximated)."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLUMNS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.approx_count_distinct(F.col(c), rsd=0.01).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in PROFILE_COLUMNS
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(PROFILE_COLUMNS)}, {stack_args}) AS "
        "(column, n_nulls, approx_distinct, min_value, max_value)",
    ).select(
        "column",
        F.col("n_rows").cast("bigint"),
        F.col("n_nulls").cast("bigint"),
        F.col("approx_distinct").cast("bigint"),
        "min_value",
        "max_value",
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment RFM (recency / frequency / monetary) quintile scoring
    — the classic customer-base segmentation: each customer gets three
    1–5 scores (quintiles of days-since-last-order, order count, and
    lifetime cents WITHIN their market segment), and the output counts
    customers and revenue per (segment, R, F, M) cell.

    Mirrors the reference's per-group scoring rollups
    (backend/app/routers/stats.py:1) re-expressed as one windowed
    aggregate chain.

    Scale: quintiles partition by c_mktsegment over the PRE-AGGREGATED
    per-customer table (orders of magnitude smaller than orders), never
    a global single-partition sort — same posture as
    :func:`q_lorenz_deciles`.  The recency anchor is the corpus max
    order date (one broadcast scalar join).  Exact-integer core: cents
    and day arithmetic; every ntile carries a custkey tiebreak so
    assignment is engine-exact."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    anchor = orders.agg(F.max("o_orderdate").alias("anchor_date"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .join(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("anchor_date", "last_order").alias("r_days"),
            "n_orders",
            "cents",
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    seg = Window.partitionBy("c_mktsegment")
    scored = per_cust.select(
        "c_mktsegment",
        "cents",
        F.ntile(5)
        .over(seg.orderBy(F.col("r_days").asc(), F.col("o_custkey").asc()))
        .alias("r_score"),
        F.ntile(5)
        .over(seg.orderBy(F.col("n_orders").desc(), F.col("o_custkey").asc()))
        .alias("f_score"),
        F.ntile(5)
        .over(seg.orderBy(F.col("cents").desc(), F.col("o_custkey").asc()))
        .alias("m_score"),
    )
    return (
        scored.groupBy("c_mktsegment", "r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (F.sum("cents").cast("double") / 100.0).alias("segment_revenue"),
        )
        .select(
            "c_mktsegment",
            F.col("r_score").cast("bigint"),
            F.col("f_score").cast("bigint"),
            F.col("m_score").cast("bigint"),
            "n_customers",
            "segment_revenue",
        )
    )


def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch revenue attribution: each ``purchase`` event's value
    is split EQUALLY across the user's ``view``/``click`` touches in the
    preceding 24 hours; purchases with no preceding touch credit a
    synthetic ``direct`` channel.  Output: credited revenue, touch
    count, and distinct purchases per channel.

    Mirrors the reference's per-event credit rollups
    (backend/app/routers/stats.py:1) as a single range-join + window.

    Scale: the touch↔purchase join is an EQUI-join on user_id (shuffle
    key) with the 24 h window as a join-time range filter, so state per
    key is bounded by one user's day — never a cross join.  Exact
    integer split: purchase cents are floor'd once, divided with
    integer DIV, and the remainder rides the MOST RECENT touch, so
    credit sums are engine-exact (no float-order ambiguity) and total
    credited cents equal total purchase cents."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.floor(F.col("value") * 100).cast("bigint").alias("p_cents"),
    )
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    day_us = 24 * 3600 * 1000000
    joined = purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.unix_micros("t_ts") < F.unix_micros("p_ts"))
        & (F.unix_micros("t_ts") >= F.unix_micros("p_ts") - F.lit(day_us)),
        "left",
    )
    w_p = Window.partitionBy("p_id")
    w_rn = w_p.orderBy(F.col("t_ts").desc(), F.col("t_id").desc())
    credited = (
        joined.withColumn("n_touch", F.count("t_id").over(w_p))
        .withColumn("rn", F.row_number().over(w_rn))
        .select(
            F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
            F.when(F.col("n_touch") == 0, F.col("p_cents"))
            .otherwise(
                F.expr("p_cents DIV n_touch")
                + F.when(
                    F.col("rn") == 1, F.col("p_cents") % F.col("n_touch")
                ).otherwise(F.lit(0))
            )
            .alias("credit_cents"),
            "p_id",
        )
    )
    return (
        credited.groupBy("channel")
        .agg(
            (F.sum("credit_cents").cast("double") / 100.0).alias(
                "attributed_revenue"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            F.count_distinct("p_id").cast("bigint").alias("n_purchases"),
        )
    )


def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth — the
    executive-dashboard growth table: monthly revenue with absolute and
    percentage deltas vs the prior month (lag) and the same month one
    year earlier (self-join on the calendar key, exact under gaps —
    never ``lag(12)``, which silently misaligns on missing months).

    Mirrors the reference's period-delta cards
    (backend/app/routers/dashboard.py:1).

    Scale: both windows and the YoY join run over the ~#months-sized
    aggregate, not over orders; the monthly rollup itself is one
    map-side-combinable shuffle.  Cents stay integral until the final
    display division; pct deltas are single double divisions of
    bigints (deterministic, no sum-order ambiguity)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("yr", "mo")
    cur = monthly.withColumn("prev_cents", F.lag("cents").over(w))
    prior = monthly.select(
        (F.col("yr") + 1).alias("yr"), F.col("mo").alias("mo"),
        F.col("cents").alias("yoy_cents"),
    )
    return (
        cur.join(prior, ["yr", "mo"], "left")
        .select(
            F.col("yr").cast("bigint"),
            F.col("mo").cast("bigint"),
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            F.round(
                (F.col("cents") - F.col("prev_cents")).cast("double") / 100.0, 2
            ).alias("mom_abs"),
            F.round(
                100.0
                * (F.col("cents") - F.col("prev_cents")).cast("double")
                / F.col("prev_cents").cast("double"),
                4,
            ).alias("mom_pct"),
            F.round(
                100.0
                * (F.col("cents") - F.col("yoy_cents")).cast("double")
                / F.col("yoy_cents").cast("double"),
                4,
            ).alias("yoy_pct"),
        )
    )


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes with right
    censoring — the churn-analysis staple: lifetime = whole hours
    between a user's first and last event; users still active within
    12 h of the corpus end are censored (their lifetime is a lower
    bound, they leave the risk set without counting as a churn event).

    Mirrors the reference's per-user lifecycle rollups
    (backend/app/routers/stats.py:1) lifted to the estimator the churn
    team would actually plot.

    Cross-engine parity: the survival product is a SEQUENTIAL LEFT FOLD
    over the hazard array (``F.aggregate`` with a 1.0 seed here,
    ``list_reduce(list_prepend(1.0, ...))`` in DuckDB) — identical IEEE
    multiplication order, and each hazard is a single bigint/bigint
    division, so the curve is bit-exact.

    Scale: the only fact-sized stage is the per-user first/last
    aggregate (one map-side-combined shuffle).  Everything after runs on
    the ≤(corpus-days) curve spine: the risk-set window, the one-row
    census join, and the hazard array (collected to ONE row of ≤ a few
    hundred structs, broadcast back) are all constant-size regardless of
    corpus row count."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    # Corpus horizon from per_user, NOT a second events scan: the census
    # and the hazard array below also derive from spine, so every branch
    # shares the one per-user shuffle (AQE ReusedExchange collapses them
    # at runtime — the fact is read once).
    horizon = per_user.agg(F.max("last_us").alias("corpus_max_us"))
    hour_us = 3600 * 1000000
    obs = per_user.join(F.broadcast(horizon)).select(
        F.expr(f"(last_us - first_us) DIV {hour_us}").alias("t_hour"),
        F.when(
            F.col("corpus_max_us") - F.col("last_us") >= 12 * hour_us,
            F.lit(1),
        ).otherwise(F.lit(0)).alias("is_death"),
    )
    spine = obs.groupBy("t_hour").agg(
        F.sum("is_death").cast("bigint").alias("n_deaths"),
        F.sum(1 - F.col("is_death")).cast("bigint").alias("n_censored"),
        F.count(F.lit(1)).cast("bigint").alias("n_leaving"),
    )
    total = spine.agg(F.sum("n_leaving").alias("n_total"))
    w_prior = Window.orderBy("t_hour").rowsBetween(
        Window.unboundedPreceding, -1
    )
    curve = (
        spine.join(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum("n_leaving").over(w_prior), F.lit(0)),
        )
        .withColumn(
            "hazard",
            F.col("n_deaths").cast("double") / F.col("n_risk").cast("double"),
        )
    )
    hz = curve.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("t_hour"), F.col("hazard")))
        ).alias("hs")
    )
    return (
        curve.join(F.broadcast(hz))
        .select(
            "t_hour",
            "n_risk",
            "n_deaths",
            "n_censored",
            F.aggregate(
                F.transform(
                    F.filter("hs", lambda s: s["t_hour"] <= F.col("t_hour")),
                    lambda s: s["hazard"],
                ),
                F.lit(1.0),
                lambda acc, x: acc * (1 - x),
            ).alias("survival"),
        )
    )


def q_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.3) of monthly
    revenue — the smoothed trend line next to :func:`q_mom_growth`'s raw
    deltas.  EWMA is inherently recursive (each value depends on the
    previous), which SQL windows can't express directly; both engines
    compute it as a SEQUENTIAL LEFT FOLD over the ordered monthly array
    (``F.aggregate`` seeded with the first month here, DuckDB
    ``list_reduce`` whose implicit seed IS the first element), so the
    smoothing recurrence runs in identical IEEE order — bit-exact.

    Mirrors the reference's dashboard trend cards
    (backend/app/routers/dashboard.py:1).

    Scale: the fold runs over the ~#months spine collected to ONE row
    (the monthly rollup is the only fact-sized shuffle, map-side
    combined).  Per-row prefix slices make the curve O(months²) ops on
    ≤ thousands of months — constant next to the scan."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    arr = monthly.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (F.col("yr") * 12 + F.col("mo")).alias("midx"),
                    (F.col("cents").cast("double") / 100.0).alias("rev"),
                )
            )
        ).alias("ms")
    )
    # Prefix fold per month: seed = first month's revenue, then
    # acc*0.7 + x*0.3 over months 2..i in calendar order.
    pref = F.transform(
        F.filter("ms", lambda s: s["midx"] <= F.col("yr") * 12 + F.col("mo")),
        lambda s: s["rev"],
    )
    return (
        monthly.join(F.broadcast(arr))
        .select(
            F.col("yr").cast("bigint"),
            F.col("mo").cast("bigint"),
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            F.aggregate(
                F.slice(pref, 2, F.greatest(F.size(pref) - 1, F.lit(0))),
                F.element_at(pref, 1),
                lambda acc, x: acc * F.lit(0.7) + x * F.lit(0.3),
            ).alias("ewma"),
        )
    )


def q_autocorr_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of monthly revenue at lags 1–6 — the
    seasonality probe behind every forecasting decision (a 12-month
    business cycle shows up as a lag-12 peak; these fixtures span ~80
    months so lags 1–6 stay well-populated).

    The series is monthly revenue in floor'd kilodollars: bigint values
    small enough that every moment sum (n, Σx, Σy, Σxx, Σyy, Σxy) stays
    exactly representable as a double at fixture scales, so the Pearson
    closed form is identical IEEE arithmetic on both engines (same
    moment-sum posture as :func:`q_corr_stats`).  Lag alignment is a
    calendar-key self-join (midx = midx + L) — exact under month gaps,
    never ``lag(L)``.

    Scale: one fact shuffle builds the monthly spine; the 6 lag joins
    and moment sums run on the ~#months aggregate (broadcast both
    sides)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("midx")
    ).agg(
        F.floor(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")) / 1000
        ).cast("bigint").alias("kd")
    )
    lags = spark.range(1, 7).select(F.col("id").alias("lag"))
    x = monthly.select(F.col("midx").alias("xm"), F.col("kd").alias("x"))
    y = monthly.select(F.col("midx").alias("ym"), F.col("kd").alias("y"))
    # Keep each equi-key one-sided: (xm - lag) lives entirely on the
    # (lags × x) side, so Catalyst extracts a proper hash-join key — a
    # mixed-side expression like ym + lag = xm degrades to a
    # nested-loop join.
    pairs = (
        F.broadcast(lags)
        .join(x, how="cross")
        .join(y, F.col("xm") - F.col("lag") == F.col("ym"))
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    denom2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    return m.select(
        "lag",
        F.col("n_pairs").cast("bigint"),
        F.when(denom2 > 0, (n * sxy - sx * sy) / F.sqrt(denom2)).alias("acf"),
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over daily revenue: the day where the
    cumulative deviation from the global mean peaks is the classic
    level-shift candidate.  Reports the top-10 days by |CUSUM|.

    Works entirely in scaled integers: CUSUM_i = Σ_{j≤i}(x_j − μ) is
    multiplied through by n to avoid the float mean — ``n·prefix_i −
    i·total`` — so the statistic is exact bigint arithmetic and the
    running prefix sum is associative (safe under DuckDB's segment-tree
    window accumulation vs Spark's running fold; float prefixes would
    NOT be).

    Scale: the day spine is one map-side-combined fact shuffle; the
    cumulative window and top-k then run on ~#days rows (the global
    ordering is over the spine, never the fact table), and the top-10 is
    a TakeOrdered."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    census = daily.agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cents").alias("total_cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    scanned = (
        daily.join(F.broadcast(census))
        .withColumn("prefix", F.sum("cents").over(w))
        .withColumn("rn", F.row_number().over(Window.orderBy("day")))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            (
                F.col("n_days") * F.col("prefix")
                - F.col("rn") * F.col("total_cents")
            ).alias("cusum_scaled"),
        )
    )
    return scanned.orderBy(
        F.abs(F.col("cusum_scaled")).desc(), F.asc("day")
    ).limit(10)


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median and p90 of line-item quantity per return
    flag: "the quantity at which half the money sits below" — a
    different (and for pricing, more decision-relevant) center than the
    row-count median.

    Exact and integer-only: weights are cents, the cumulative weight is
    an associative bigint window sum, and the quantile pick is the first
    value whose doubled (×10 for p90) cumulative weight crosses the
    doubled total — no division anywhere until the display column.

    Scale: the window runs over the (flag, quantity) PRE-AGGREGATE —
    ~50 distinct quantities per flag regardless of fact rows — never
    over lineitem itself, which is the mistake that made
    :func:`q_outlier_mad`'s exact path a straggler risk.  One fact
    shuffle total."""
    li = load_table(spark, sf_dir, "lineitem")
    by_q = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    ).agg(
        F.sum(
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
        ).alias("w_cents")
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("flag")
    scored = by_q.select(
        "flag",
        "qty",
        F.sum("w_cents").over(w_cum).alias("cum_w"),
        F.sum("w_cents").over(w_all).alias("total_w"),
    )
    return (
        scored.groupBy("flag")
        .agg(
            F.min(
                F.when(2 * F.col("cum_w") >= F.col("total_w"), F.col("qty"))
            ).alias("w_median_qty"),
            F.min(
                F.when(10 * F.col("cum_w") >= 9 * F.col("total_w"), F.col("qty"))
            ).alias("w_p90_qty"),
            (F.max("total_w").cast("double") / 100.0).alias("total_weight"),
        )
    )


def q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-expectations-style data-quality rule report over ``orders``:
    six named expectations (key uniqueness, referential integrity to
    ``customer``, value positivity, date range, status domain, priority
    non-null) with checked/violation counts and a pass verdict — the
    machine-readable gate a pipeline would run before promoting a batch,
    complementing :func:`q_table_profile`'s per-column stats.

    Mirrors the reference's ingest validation checks
    (backend/app/seed.py:1) generalized into a rule engine.

    Scale: five of the six rules fuse into ONE aggregate scan of orders
    (conditional sums + one exact count-distinct); referential integrity
    is a single anti-join against the customer keys (shuffle join at
    scale, AQE-broadcast at fixture scale).  Output is 6 rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust_keys = load_table(spark, sf_dir, "customer").select("c_custkey")
    one = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
            "dup_keys"
        ),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0),
                1,
            ).otherwise(0)
        ).alias("bad_price"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1995-01-01").cast("date"))
                | (F.col("o_orderdate") >= F.lit("2002-01-01").cast("date")),
                1,
            ).otherwise(0)
        ).alias("bad_date"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("bad_status"),
        F.sum(
            F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
        ).alias("null_priority"),
    )
    orphans = (
        orders.join(
            cust_keys, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("orphan_orders"))
    )
    wide = one.join(F.broadcast(orphans))
    report = wide.selectExpr(
        """stack(6,
            'orderkey_unique', dup_keys,
            'custkey_ri', orphan_orders,
            'totalprice_positive', bad_price,
            'orderdate_in_range', bad_date,
            'status_in_domain', bad_status,
            'priority_nonnull', null_priority
        ) as (rule, n_violations)""",
        "n_rows",
    )
    return report.select(
        "rule",
        F.col("n_rows").cast("bigint").alias("n_checked"),
        F.col("n_violations").cast("bigint"),
        (F.col("n_violations") == 0).alias("passed"),
    )


#: Basket caps for q_basket_pairs (mirrored exactly in the oracle): the
#: per-order item ceiling bounds the O(items²) pair fan-out per basket.
BASKET_MAX_ITEMS = 20


def _capped_baskets(li: DataFrame) -> DataFrame:
    """(l_orderkey, parts): sorted distinct parts per order, capped at
    :data:`BASKET_MAX_ITEMS` — the basket builder shared by
    :func:`q_basket_pairs` and :func:`q_item_similarity` (one
    definition so the cap/sort semantics can't fork)."""
    return li.groupBy("l_orderkey").agg(
        F.slice(
            F.array_sort(F.collect_set("l_partkey")), 1, BASKET_MAX_ITEMS
        ).alias("parts")
    )


def _undirected_basket_pairs(baskets: DataFrame) -> DataFrame:
    """(lo, hi, pair_n): per-basket nested-``transform`` pair fan-out +
    ONE map-side-combined aggregate — O(basket²) per order with
    basket ≤ :data:`BASKET_MAX_ITEMS`, linear in orders, never a
    fact-table self-join.  Shared by the market-basket keys."""
    pair_structs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("parts"),
                    i + 2,
                    F.greatest(F.size("parts") - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("lo"), y.alias("hi")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.lo").alias("lo"), F.col("p.hi").alias("hi"))
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over line items: directional
    part-pair rules a→b ranked by confidence, with support and lift —
    the retail cross-sell classic (and the asymmetric complement of
    :func:`q_cooccur_lift`'s symmetric document-level lift).

    All three measures are exact integer ratios (pair, antecedent, and
    basket counts), floor-scaled to bigints before ranking; the top-20
    carries a full (a, b) tiebreak.

    Scale: pair generation is per-basket — a nested ``transform`` over
    each order's sorted distinct parts, capped at
    ``BASKET_MAX_ITEMS`` — so fan-out is O(basket²) with basket ≤ 20,
    linear in orders, never a self-join of the fact table.  The pair
    aggregate and item counts are map-side combined; the rule join
    runs pair-table × item-counts (AQE-broadcast at fixture scale) and
    the final top-20 is a TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem", fan=True)
    baskets = _capped_baskets(li)
    # NOT persisted (r11 A/B: 3.85 → 5.03 min, clear loss): AQE reuses
    # the baskets exchange across all three consumers at runtime
    # (ReusedExchange asserted in tests/test_plans.py), so a persist
    # only adds a materialization pass.
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    items = baskets.select(
        "l_orderkey", F.explode("parts").alias("part")
    )
    item_n = items.groupBy("part").agg(F.count(F.lit(1)).alias("part_n"))
    undirected = _undirected_basket_pairs(baskets)
    directional = undirected.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"), "pair_n"
    ).unionByName(
        undirected.select(
            F.col("hi").alias("a"), F.col("lo").alias("b"), "pair_n"
        )
    )
    an = item_n.select(F.col("part").alias("a"), F.col("part_n").alias("a_n"))
    bn = item_n.select(F.col("part").alias("b"), F.col("part_n").alias("b_n"))
    scored = (
        directional.join(an, "a")
        .join(bn, "b")
        .join(F.broadcast(n_orders))
        .select(
            "a",
            "b",
            "pair_n",
            F.floor(
                F.lit(1000000.0) * F.col("pair_n") / F.col("a_n")
            ).cast("bigint").alias("conf_scaled"),
            F.floor(
                F.lit(1000000.0) * F.col("pair_n") / F.col("n_orders")
            ).cast("bigint").alias("supp_scaled"),
            F.floor(
                F.lit(1000000.0)
                * (F.col("pair_n") * F.col("n_orders"))
                / (F.col("a_n") * F.col("b_n"))
            ).cast("bigint").alias("lift_scaled"),
        )
    )
    return scored.orderBy(
        F.desc("conf_scaled"), F.asc("a"), F.asc("b")
    ).limit(20)


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (alpha = 0.2, beta = 0.1) over
    monthly revenue, with a 6-month linear forecast — the level+trend
    upgrade of :func:`q_ewma_revenue` (which can't follow a trending
    series).

    The coupled (level, trend) recurrence runs as ONE ordered fold with
    a 2-element ARRAY accumulator — identical IEEE operation order on
    both engines (``F.aggregate`` here, DuckDB ``list_reduce``; array
    accumulator because DuckDB 1.0's list_reduce mis-evaluates STRUCT
    accumulators across iterations — verified empirically).  Seed is the
    textbook (l₂, b₂) = (x₂, x₂−x₁); months 3..n fold in calendar
    order; forecast(h) = l + h·b.

    Scale: one map-side-combined fact shuffle builds the spine; the fold
    runs on the collected ~#months array (one row) and the output is 6
    rows."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("midx")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    arr = monthly.agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("midx"),
                        (F.col("cents").cast("double") / 100.0).alias("rev"),
                    )
                )
            ),
            lambda s: s["rev"],
        ).alias("revs")
    )
    a, b = F.lit(0.2), F.lit(0.1)
    # try_element_at: a <2-month series seeds (null, null) and yields
    # null forecasts instead of an ANSI array-index error
    seed = F.array(
        F.try_element_at("revs", F.lit(2)),
        F.try_element_at("revs", F.lit(2)) - F.try_element_at("revs", F.lit(1)),
    )

    def step(acc, x):
        lvl = a * x + (F.lit(1.0) - a) * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )
        trend = b * (
            (
                a * x
                + (F.lit(1.0) - a)
                * (F.element_at(acc, 1) + F.element_at(acc, 2))
            )
            - F.element_at(acc, 1)
        ) + (F.lit(1.0) - b) * F.element_at(acc, 2)
        return F.array(lvl, trend)

    fitted = arr.select(
        F.aggregate(
            F.slice("revs", 3, F.greatest(F.size("revs") - 2, F.lit(0))),
            seed,
            step,
        ).alias("state")
    )
    horizons = spark.range(1, 7).select(F.col("id").alias("h"))
    return (
        F.broadcast(horizons)
        .join(fitted, how="cross")
        .select(
            "h",
            (
                F.element_at("state", 1)
                + F.col("h") * F.element_at("state", 2)
            ).alias("forecast"),
            F.element_at("state", 1).alias("level"),
            F.element_at("state", 2).alias("trend"),
        )
    )


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily revenue by day-of-week:
    expected(day) = overall mean + dow effect, residual = actual −
    expected; reports the top-10 anomaly days by |residual| — the
    seasonality-aware upgrade of a plain z-score scan (a quiet Sunday is
    NOT an anomaly; a quiet Monday is).

    Engine-portable day-of-week: ``datediff(day, 1995-01-01) % 7`` —
    exact integer arithmetic on both engines (Spark's ``dayofweek`` and
    DuckDB's disagree on numbering).  Every mean is an exact-bigint /
    exact-bigint double division; expected/residual are then identical
    IEEE adds.

    Scale: one fact shuffle to the day spine; the dow means and census
    are spine-sized aggregates broadcast back; top-10 is a
    TakeOrdered."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    daily = daily.withColumn(
        "dow", F.datediff("day", F.lit("1995-01-01").cast("date")) % 7
    )
    census = daily.agg(
        F.sum("cents").alias("tot"), F.count(F.lit(1)).alias("n_days")
    )
    by_dow = daily.groupBy("dow").agg(
        F.sum("cents").alias("dow_tot"), F.count(F.lit(1)).alias("dow_n")
    )
    overall = F.col("tot").cast("double") / F.col("n_days").cast("double")
    dow_mean = F.col("dow_tot").cast("double") / F.col("dow_n").cast("double")
    scored = (
        daily.join(F.broadcast(by_dow), "dow")
        .join(F.broadcast(census))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dow").cast("bigint").alias("dow"),
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            (dow_mean / 100.0).alias("expected"),
            ((F.col("cents").cast("double") - dow_mean) / 100.0).alias(
                "residual"
            ),
            ((dow_mean - overall) / 100.0).alias("dow_effect"),
        )
    )
    return scored.orderBy(F.abs(F.col("residual")).desc(), F.asc("day")).limit(
        10
    )


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fraud/data-fabrication screen: observed leading-digit shares vs the
    Benford expectation, with per-digit chi-square contributions.

    The nine Benford constants are hard-coded as identical double
    literals on both engines (log10(1+1/d) — computing them via libm at
    runtime would be a cross-engine parity hazard).  Per-digit rows keep
    every float op single-row (obs bigint, n bigint, literal constants):
    no cross-row float summation anywhere, so the output is bit-exact.

    Scale: digit extraction is a map-side expression; the digit rollup
    shuffles 9 groups; the Benford table is a 9-row broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    digits = (
        orders.where(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = digits.agg(F.sum("n_obs").alias("n_total"))
    benford = local_rows(
        spark,
        [
            (1, 0.30102999566398120),
            (2, 0.17609125905568124),
            (3, 0.12493873660829993),
            (4, 0.09691001300805642),
            (5, 0.07918124604762482),
            (6, 0.06694678963061322),
            (7, 0.05799194697768673),
            (8, 0.05115252244738129),
            (9, 0.04575749056067514),
        ],
        "digit bigint, exp_share double",
    )
    obs = F.col("n_obs").cast("double")
    exp_n = F.col("exp_share") * F.col("n_total").cast("double")
    return (
        digits.join(F.broadcast(benford), "digit")
        .join(F.broadcast(total))
        .select(
            "digit",
            F.col("n_obs").cast("bigint"),
            (obs / F.col("n_total").cast("double")).alias("obs_share"),
            "exp_share",
            ((obs - exp_n) * (obs - exp_n) / exp_n).alias("chi2_contrib"),
        )
    )


def q_percent_rank_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of lifetime spend within each market
    segment — the two rank-normalizing window functions the contract
    didn't yet exercise, realized the scale-correct way: over the
    per-customer PRE-aggregate (the only fact-sized stage is the spend
    rollup), partitioned by segment so no global sort exists.

    Both functions are exact integer ratios ((rank−1)/(n−1),
    peers_cume/n) of deterministic ranks (spend cents desc, custkey
    tiebreak), so the doubles match bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cents").desc(), F.col("o_custkey").asc()
    )
    return spend.select(
        F.col("o_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        (F.col("cents").cast("double") / 100.0).alias("spend"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def q_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap analysis: days between each customer's
    consecutive orders, bucketed into the reorder-cadence histogram
    (same-day, ≤1 w, ≤1 mo, ≤3 mo, ≤1 yr, >1 yr) with exact counts and
    shares — the purchase-frequency view behind replenishment and churn
    models (:func:`q_survival_km`'s discrete cousin).

    The lag window partitions by customer — per-partition state is one
    customer's orders, bounded and skew-free — with a full
    (date, orderkey) tiebreak so same-day orders produce a
    deterministic 0-day gap.  Buckets and shares are exact integer
    arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    bucket = (
        F.when(F.col("gap_days") == 0, "0_same_day")
        .when(F.col("gap_days") <= 7, "1_within_week")
        .when(F.col("gap_days") <= 30, "2_within_month")
        .when(F.col("gap_days") <= 90, "3_within_quarter")
        .when(F.col("gap_days") <= 365, "4_within_year")
        .otherwise("5_over_year")
    )
    hist = gaps.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_days").cast("bigint").alias("min_gap"),
        F.max("gap_days").cast("bigint").alias("max_gap"),
        F.sum("gap_days").alias("sum_gap"),
    )
    total = hist.agg(F.sum("n_gaps").alias("n_total"))
    return hist.join(F.broadcast(total)).select(
        "bucket",
        F.col("n_gaps").cast("bigint"),
        "min_gap",
        "max_gap",
        (
            F.col("sum_gap").cast("double") / F.col("n_gaps").cast("double")
        ).alias("avg_gap"),
        (
            F.col("n_gaps").cast("double") / F.col("n_total").cast("double")
        ).alias("share"),
    )


def q_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed two-feature OLS via sufficient statistics: fit
    ``extendedprice ~ b0 + b1·quantity + b2·discount`` per return flag
    with closed-form normal equations — "ML training without MLlib",
    the mergeable-moments pattern (one map-side-combinable aggregate of
    10 exact sums, Cramer's-rule solve on the 3-row result).

    All ten moments are DECIMAL sums (exact, order-independent) cast to
    double; the determinant/solve/R² arithmetic is then identical IEEE
    on identical inputs, written with the SAME association on both
    engines — bit-exact coefficients with zero iterations and zero
    extra passes.

    Scale: this is the canonical 100 TB regression shape — the shuffle
    carries 10 numbers per group regardless of fact rows, and moment
    sums sketch-combine across any partitioning (same posture as
    :func:`q_corr_stats`)."""
    li = load_table(spark, sf_dir, "lineitem", fan=True)
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    x1 = F.col("l_quantity").cast("decimal(18,2)")
    x2 = F.col("l_discount").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(x1 * y).cast("double").alias("s1y"),
        F.sum(x2 * y).cast("double").alias("s2y"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    sy, s11, s12 = F.col("sy"), F.col("s11"), F.col("s12")
    s22, s1y, s2y, syy = (
        F.col("s22"),
        F.col("s1y"),
        F.col("s2y"),
        F.col("syy"),
    )
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    d0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    d1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    d2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    # nullif guards: a singular system (degenerate group of 1-2 rows)
    # yields null coefficients instead of an ANSI divide-by-zero; on
    # real groups det/sst are nonzero so values are bit-identical
    safe_det = F.nullif(det, F.lit(0.0))
    b0, b1, b2 = d0 / safe_det, d1 / safe_det, d2 / safe_det
    sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    sst = F.nullif(syy - sy * sy / n, F.lit(0.0))
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        b0.alias("b0"),
        b1.alias("b1_quantity"),
        b2.alias("b2_discount"),
        (F.lit(1.0) - sse / sst).alias("r2"),
    )


#: Candidate FK edges probed by q_fk_discovery: (child table, child col,
#: parent table, parent col).  Includes one deliberate negative control.
FK_CANDIDATES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),
)


def q_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated foreign-key discovery by containment: for each
    candidate (child column → parent column) edge, the fraction of the
    child's DISTINCT values present in the parent — containment 1.0 ⇒
    a valid FK, the classic schema-inference primitive behind data
    catalogs (the last candidate is a deliberate negative control).

    All counts are exact integers; containment is one double division.

    Scale: each side is reduced to its distinct-value set FIRST (one
    map-side-combinable shuffle per column), and the match count is a
    semi-join of those two distinct sets — never a row-level join of
    the facts.  The per-candidate loop is driver-side plan
    construction; the union executes as independent parallel stages."""
    parts = []
    for child_t, child_c, parent_t, parent_c in FK_CANDIDATES:
        child = (
            load_table(spark, sf_dir, child_t)
            .select(F.col(child_c).alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
        )
        parent = (
            load_table(spark, sf_dir, parent_t)
            .select(F.col(parent_c).alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
        )
        matched = child.join(parent, "v", "left_semi")
        stats = child.agg(
            F.count(F.lit(1)).alias("n_child_distinct")
        ).join(
            F.broadcast(
                matched.agg(F.count(F.lit(1)).alias("n_matched"))
            )
        ).join(
            F.broadcast(
                parent.agg(F.count(F.lit(1)).alias("n_parent_distinct"))
            )
        )
        parts.append(
            stats.select(
                F.lit(f"{child_t}.{child_c}").alias("child"),
                F.lit(f"{parent_t}.{parent_c}").alias("parent"),
                F.col("n_child_distinct").cast("bigint"),
                F.col("n_parent_distinct").cast("bigint"),
                F.col("n_matched").cast("bigint"),
                (
                    F.col("n_matched").cast("double")
                    / F.nullif(
                        F.col("n_child_distinct").cast("double"), F.lit(0.0)
                    )
                ).alias("containment"),
                (F.col("n_matched") == F.col("n_child_distinct")).alias(
                    "is_fk"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: (table, key column) pairs profiled by q_skew_diagnostics.
SKEW_TARGETS = (
    ("events", "user_id"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
)


def q_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew profiler: per candidate shuffle key, the
    per-key count distribution that decides whether a plain hash join
    is safe or the key needs salting/AQE skew handling — row count,
    distinct keys, max and p99 per-key counts, the hot key's share,
    and skew = max/mean (the number a planner compares against its
    skew-join threshold).

    Counts are exact integers; p99 uses linearly interpolated exact
    ``percentile`` with the engine-portable round-4 tactic of
    :func:`q_percentile_multi`; shares/ratios are single IEEE
    divisions of exact counts.

    Scale: per (table, key) the plan is one map-side-combinable
    groupBy (shuffle carries one bigint per distinct key) and a
    bounded second aggregate over the per-key counts.  The per-key
    count table is exactly what the exact-percentile needs — at 100 TB
    swap ``percentile`` for ``approx_percentile`` (the
    ``q_approx_quantiles`` pattern) if distinct keys overflow one
    reducer.  The per-target loop is driver-side plan construction;
    the union's branches execute as independent stages."""
    parts = []
    for table, keycol in SKEW_TARGETS:
        cnts = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(keycol).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        parts.append(
            cnts.agg(
                F.lit(f"{table}.{keycol}").alias("key"),
                F.sum("cnt").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max("cnt").cast("bigint").alias("max_cnt"),
                F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_cnt"),
                (
                    F.max("cnt").cast("double")
                    / F.sum("cnt").cast("double")
                ).alias("max_share"),
                (
                    F.max("cnt").cast("double")
                    * F.count(F.lit(1)).cast("double")
                    / F.sum("cnt").cast("double")
                ).alias("skew"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocking + edit-distance scoring: customers
    are blocked on a name-prefix key (bounding candidate pairs), scored
    pairwise with Levenshtein inside each block, and matched at
    distance ≤ 1 — the classic record-linkage pipeline (Fellegi-Sunter
    blocking stage), reported per nation of the left record.

    Levenshtein is integer dynamic programming — identical in every
    engine — and all counts are exact, so the key is fully
    oracle-checked.

    Scale: the self-join keys on the block prefix, so both sides
    shuffle ONCE on a key whose group size is bounded by construction
    (≤ 100 names share a 7-digit prefix); pair fan-out is O(block²)
    per block, linear in blocks — never an unblocked n² comparison.
    Block width is the standard ER knob: widen the prefix to shrink
    blocks when a corpus makes 100² per-block pairs hot."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", 10, 7).alias("blk"),
    )
    a, b = cust.alias("a"), cust.alias("b")
    pairs = a.join(b, "blk").where(F.col("a.c_custkey") < F.col("b.c_custkey"))
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        pairs.select(
            F.col("a.c_nationkey").alias("c_nationkey"),
            (dist <= 1).cast("bigint").alias("is_match"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("is_match").cast("bigint").alias("n_matches"),
            (
                F.sum("is_match").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("match_rate"),
        )
        .orderBy("c_nationkey")
    )


#: How many hot items get a neighbor list, and neighbors per item.
ITEM_SIM_TOP_ITEMS = 20
ITEM_SIM_TOP_K = 3


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering neighbors: for the 20 most
    frequent parts, the top-3 co-purchased neighbors by co-occurrence
    cosine — the "customers also bought" primitive.

    Similarity is the integer-exact squared cosine
    ``round(1e6 · n_ab² / (n_a · n_b))`` (squares avoid sqrt, keeping
    both engines in exact-integer + one IEEE division territory — the
    same tactic as the integer-scaled BM25 idf).  Ranking carries a
    full (sim desc, neighbor asc) tiebreak; the hot-item list is
    deterministic via (count desc, partkey asc).

    Scale: pair generation is the per-basket ``transform`` fan-out of
    :func:`q_basket_pairs` (O(basket²), basket ≤ 20, linear in
    orders — never a fact self-join); the hot-item list is a 20-row
    broadcast; the per-item top-k is a bounded window over ≤ 20
    partitions AFTER the semi-join cuts the pair table down."""
    li = load_table(spark, sf_dir, "lineitem", fan=True)
    baskets = _capped_baskets(li)
    # NOT persisted (r11 A/B: 3.60 → 4.49 min, clear loss — the
    # q_basket_pairs note applies: AQE reuses the baskets exchange
    # across consumers at runtime, persists only add materialization).
    items = baskets.select("l_orderkey", F.explode("parts").alias("part"))
    item_n = items.groupBy("part").agg(F.count(F.lit(1)).alias("item_n"))
    hot = item_n.orderBy(
        F.col("item_n").desc(), F.col("part").asc()
    ).limit(ITEM_SIM_TOP_ITEMS)
    undirected = _undirected_basket_pairs(baskets)
    directed = undirected.select(
        F.col("lo").alias("item"), F.col("hi").alias("neighbor"), "pair_n"
    ).unionByName(
        undirected.select(
            F.col("hi").alias("item"), F.col("lo").alias("neighbor"), "pair_n"
        )
    )
    scored = (
        directed.join(
            F.broadcast(hot.select(F.col("part").alias("item"), "item_n")),
            "item",
        )
        .join(
            item_n.select(
                F.col("part").alias("neighbor"),
                F.col("item_n").alias("neighbor_n"),
            ),
            "neighbor",
        )
        .withColumn(
            "sim_scaled",
            F.round(
                F.lit(1e6)
                * (
                    F.col("pair_n").cast("double")
                    * F.col("pair_n").cast("double")
                )
                / (
                    F.col("item_n").cast("double")
                    * F.col("neighbor_n").cast("double")
                )
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("sim_scaled").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ITEM_SIM_TOP_K)
        .select(
            "item",
            "neighbor",
            F.col("item_n").cast("bigint").alias("item_n"),
            F.col("neighbor_n").cast("bigint").alias("neighbor_n"),
            F.col("pair_n").cast("bigint").alias("pair_n"),
            "sim_scaled",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("item", "rank")
    )


#: Bin count for the isotonic fit (finer than CALIB_BINS so pooling
#: has something to pool).
ISO_BINS = 20


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) score calibration: fit the monotone step function
    mapping the pseudo-confidence score of :func:`q_calibration_bins`
    to observed positive rate — the standard post-hoc calibrator run on
    judge/classifier scores before thresholding them for filtering.

    The split realized here is the canonical scale shape for isotonic
    regression on big data: the DISTRIBUTED part is one bounded
    per-bin aggregate (exact integer ``n``/``n_pos`` per score bin);
    the pool-adjacent-violators sweep then runs on the driver over
    ``ISO_BINS`` rows — O(bins) state, independent of corpus size.
    Pooling decisions compare rates by exact integer cross-
    multiplication (``pos_a·n_b > pos_b·n_a``), so the fit is fully
    deterministic; the only floats are the final per-block divisions.

    Rows-only by declared design (no SQL realization of the iterative
    PAV sweep); ``tests/test_isotonic.py`` is the oracle — an
    independent numpy PAV on the same bins must agree exactly, and the
    output must be monotone with pool means preserving block totals."""
    orders = load_table(spark, sf_dir, "orders")
    h = F.pmod(
        F.pmod(F.col("o_orderkey"), F.lit(CALIB_MOD)) * F.lit(CALIB_MULT),
        F.lit(CALIB_MOD),
    )
    binned = orders.select(
        h.alias("h"),
        (F.col("o_orderstatus") == "F").cast("bigint").alias("label"),
    ).withColumn(
        "bin",
        ((F.col("h") * F.lit(ISO_BINS)) / F.lit(CALIB_MOD))
        .cast("bigint")
        .cast("int"),
    )
    rows = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("label").alias("n_pos"),
        )
        .orderBy("bin")
        .collect()
    )
    # PAV sweep over <= ISO_BINS rows: blocks carry exact integer
    # (n, n_pos) totals; a violator (rate[i] > rate[i+1], compared by
    # cross-multiplication) merges into its left neighbour and the
    # merge cascades left while monotonicity is still broken.
    blocks: list[list[int]] = []  # [first_bin, last_bin, n, n_pos]
    for r in rows:
        blocks.append([r["bin"], r["bin"], int(r["n"]), int(r["n_pos"])])
        while (
            len(blocks) > 1
            and blocks[-2][3] * blocks[-1][2] > blocks[-1][3] * blocks[-2][2]
        ):
            b = blocks.pop()
            blocks[-1][1] = b[1]
            blocks[-1][2] += b[2]
            blocks[-1][3] += b[3]
    out = []
    for pool_id, (first, last, n, n_pos) in enumerate(blocks):
        for r in rows:
            if first <= r["bin"] <= last:
                out.append(
                    (
                        int(r["bin"]),
                        int(r["n"]),
                        round(int(r["n_pos"]) / int(r["n"]), 6),
                        int(pool_id),
                        round(n_pos / n, 6),
                    )
                )
    return local_rows(
        spark,
        out,
        "bin int, n bigint, raw_rate double, pool_id int, iso_rate double",
    ).orderBy("bin")


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test n-gram novelty audit (the memorization-risk
    measurement of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499 — public method): split
    the corpus with the engine-portable md5-threshold rule, build the
    train side's distinct 3-gram set, and score every test document by
    the share of its 3-grams already seen in train — the 20 least
    novel documents are the contamination/memorization suspects.

    All counts are exact integers over distinct shingles; novelty is
    one IEEE division — fully oracle-checked.

    Scale: the train set is DISTINCT-reduced before the join and both
    sides key on ``md5(shingle)`` so the wide exchange carries 16-byte
    hashes, never shingle text (the decontamination-join posture of
    :mod:`ml.decontam`); per-doc scoring is one map-side-combinable
    regroup.  The final top-20 is a TakeOrdered, not a global sort.

    Shingling is posexplode + two ``lead`` windows over (doc, pos),
    NOT an array higher-order ``transform``: HOFs evaluate interpreted
    (outside whole-stage codegen) and measured 3-8x slower than the
    windowed codegen path at sf0.1 even though the window adds a
    doc-keyed shuffle of the token stream (0.95 s vs 3.3-7.8 s for the
    slice/element_at HOF variants).  The shuffle rows carry only
    (16 B doc hash, int pos, token) and partition evenly by doc."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_remove(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "")
    tok_rows = docs.select(
        "doc_id",
        "lang",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias("hb"),
        F.posexplode(toks).alias("pos", "w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    exploded = (
        tok_rows.select(
            "doc_id",
            "lang",
            "hb",
            F.concat_ws(
                " ", "w", F.lead("w", 1).over(win), F.lead("w", 2).over(win)
            ).alias("s"),
            F.lead("w", 2).over(win).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
        .select("doc_id", "lang", "hb", F.md5("s").alias("sh"))
        .dropDuplicates(["doc_id", "sh"])
    )
    train_set = (
        exploded.where(F.col("hb") < "80000000").select("sh").distinct()
    )
    test = exploded.where(F.col("hb") >= "80000000")
    seen = test.join(
        train_set.withColumn("seen", F.lit(1)), "sh", "left"
    )
    return (
        seen.groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0)))
            .cast("bigint")
            .alias("n_seen"),
        )
        .select(
            "doc_id",
            "lang",
            "n_shingles",
            "n_seen",
            F.round(
                F.lit(1.0)
                - F.col("n_seen").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy(F.col("novelty").asc(), F.col("doc_id").asc())
        .limit(20)
    )


#: Fixed-point scale shared by the information-theoretic keys: per-term
#: ``floor(SCALE · x)`` BIGINTs sum exactly in any order, so the only
#: engine-sensitive op is ``ln`` itself (platform libm on both sides —
#: the portability argument established for the NB weight table,
#: ml/nb.py module docstring).
ENTROPY_SCALE = 1_000_000


def _entropy_profile(df: DataFrame, table: str, cols: tuple[str, ...]) -> DataFrame:
    """Per-column Shannon entropy via ONE scan of the table: ``stack``
    unpivots the profiled columns, a single (column, value)-count
    aggregate feeds every per-column profile.

    ``H_bits = (ln N − Σ floor(1e6·n_i·ln n_i)/1e6/N) / ln 2`` — the
    inner sum is exact BIGINT arithmetic (order-independent), the outer
    expression is a handful of deterministic double ops."""
    pairs = ", ".join(f"'{c}', {c}" for c in cols)
    unpivoted = df.selectExpr(
        f"stack({len(cols)}, {pairs}) AS (column_name, v)"
    )
    counts = unpivoted.groupBy("column_name", "v").agg(
        F.count(F.lit(1)).alias("n")
    )
    term = F.floor(
        F.lit(float(ENTROPY_SCALE)) * F.col("n").cast("double") * F.log("n")
    ).cast("bigint")
    return counts.groupBy("column_name").agg(
        F.lit(table).alias("table_name"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.round(F.max("n") / F.sum("n"), 6).alias("top_share"),
        F.round(
            (
                F.log(F.sum("n").cast("double"))
                - F.sum(term) / F.lit(float(ENTROPY_SCALE)) / F.sum("n")
            )
            / F.lit(math.log(2.0)),
            6,
        ).alias("entropy_bits"),
    ).select(
        "table_name", "column_name", "n_rows", "n_distinct",
        "top_share", "entropy_bits",
    )


def q_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-content profile of the catalog's categorical columns
    (the data-catalog companion to :func:`q_table_profile`): per column —
    row count, exact distinct count, majority share, and Shannon entropy
    in bits.  Low-entropy / high-top-share columns are the constant-ish
    candidates a pipeline drops or dictionary-encodes; entropy also ranks
    stratification keys for :func:`q_sample_stratified`-style splits.

    Engine-portable despite ``ln``: each per-value term is floored to a
    scaled BIGINT before summing (exact, order-independent — the ml/nb.py
    tactic), and the closing expression is division-and-log on exact
    aggregates only.

    Scale: ONE scan per table (``stack`` unpivots the profiled columns
    in-map), one map-side-combinable (column, value)-count aggregate —
    the shuffle carries |distinct| rows per column, nothing else; the
    three per-table profiles run as one union job."""
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    parts = [
        _entropy_profile(docs, "documents", ("lang", "source")),
        _entropy_profile(orders, "orders", ("o_orderstatus", "o_orderpriority")),
        _entropy_profile(events, "events", ("event_type",)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name", "column_name")


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (bits) between document language and source —
    the feature-relevance / leakage probe run before stratifying or
    mixing a corpus (is `source` informative about `lang`?), plus both
    marginal entropies and the normalized MI ``mi / min(H_a, H_b)``.

    Exactness: joint and marginal counts are exact integers; each joint
    cell contributes ``floor(1e6 · n_ab · ln(n_ab·N / (n_a·n_b)))`` — the
    log argument divides the int64 products AS DOUBLES on both sides
    (``float()`` here, ``CAST(... AS DOUBLE)`` in the oracle, identical
    rounding even past 2^53), the floored terms sum exactly, and the
    final conversion is a fixed handful of double ops (see ml/nb.py for
    the libm-portability argument).  Count products must stay under
    int64 (9.2e18) — the oracle's BIGINT multiply overflows first and
    loudly.

    Scale: the corpus contributes exactly ONE (a, b)-pair count
    aggregate (map-side combinable); the |langs| × |sources| cell table
    is the sufficient statistic and lands on the driver (bounded by
    construction — the ml/nb.py posture), where marginals and the
    floor-scaled terms finish in exact integer arithmetic.  Final
    rounding happens in a Spark expression so the established
    F.round/DuckDB round parity path applies."""
    docs = load_table(spark, sf_dir, "documents")
    cells = collect_bounded(
        docs.where(F.col("lang").isNotNull() & F.col("source").isNotNull())
        .groupBy(F.col("lang").alias("a"), F.col("source").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_ab")),
        _MAX_CELL_ROWS,
        "q_mutual_information lang×source cell table",
    )
    schema = (
        "n_rows bigint, n_cells bigint, _mi double, _ha double, "
        "_hb double, _nmi double"
    )
    counts, ma, mb, n = _cell_marginals(cells, "a", "b", "n_ab")
    if n == 0:  # degenerate empty corpus: schema-stable empty result
        row = local_rows(spark, [], schema)
        return row.select(
            "n_rows",
            "n_cells",
            F.col("_mi").alias("mi_bits"),
            F.col("_ha").alias("h_lang_bits"),
            F.col("_hb").alias("h_source_bits"),
            F.col("_nmi").alias("normalized_mi"),
        )
    # float() each product BEFORE dividing to mirror the oracle's
    # CAST(... AS DOUBLE)/CAST(... AS DOUBLE): past 2^53 Python's exact
    # int division and double division differ by 1 ulp
    s_mi = sum(
        math.floor(
            float(ENTROPY_SCALE)
            * r["n_ab"]
            * math.log(
                float(r["n_ab"] * n) / float(ma[r["a"]] * mb[r["b"]])
            )
        )
        for r in cells
    )
    ent = lambda m: (  # noqa: E731 — local formula, not an API
        math.log(n)
        - sum(
            math.floor(float(ENTROPY_SCALE) * c * math.log(c))
            for c in m.values()
        )
        / float(ENTROPY_SCALE)
        / n
    ) / math.log(2.0)
    mi = s_mi / float(ENTROPY_SCALE) / n / math.log(2.0)
    ha, hb = ent(ma), ent(mb)
    # constant column(s): min entropy 0 → normalized MI undefined (null)
    nmi = mi / min(ha, hb) if min(ha, hb) > 0.0 else None
    row = local_rows(spark, [(n, len(cells), mi, ha, hb, nmi)], schema)
    return row.select(
        "n_rows",
        "n_cells",
        F.round("_mi", 6).alias("mi_bits"),
        F.round("_ha", 6).alias("h_lang_bits"),
        F.round("_hb", 6).alias("h_source_bits"),
        F.round("_nmi", 6).alias("normalized_mi"),
    )


#: NDCG cutoff.
NDCG_K = 10


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per nation for the ranking "top customers by account
    balance", graded by realized activity (order count) — the standard
    listwise ranking-quality metric (Järvelin & Kekäläinen 2002), here
    auditing how well a static score (acctbal) predicts engagement.

    Engine-portable: relevance grades and rank positions are exact
    integers; the irrational discounts ``1/log2(i+1)`` are pre-floored
    to scaled BIGINTs ``D_i = floor(1e6·ln 2 / ln(i+1))`` (driver-side
    math.log here, ln() in the oracle — same platform libm, the ml/nb.py
    argument), so DCG and IDCG are exact integer dot products and the
    single float op is the final ratio.

    Scale: the ranking is a per-nation top-K window over customers
    (25 groups); relevance joins from a pre-aggregated per-customer
    order count (grouped BEFORE the join, so the join is K-rows-per-
    nation vs an aggregate, not a fact-table fan-out)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    discounts = [
        (i, math.floor(ENTROPY_SCALE * math.log(2.0) / math.log(i + 1.0)))
        for i in range(1, NDCG_K + 1)
    ]
    ddf = local_rows(spark, discounts, "rank int, d long")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    topk = (
        customer.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= NDCG_K)
        .select("c_nationkey", "c_custkey", "rank")
    )
    rel = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("rel"))
    graded = topk.join(
        rel, topk.c_custkey == rel.o_custkey, "left"
    ).select(
        "c_nationkey",
        "rank",
        F.coalesce(F.col("rel"), F.lit(0)).cast("bigint").alias("rel"),
    )
    iw = Window.partitionBy("c_nationkey").orderBy(
        F.col("rel").desc(), F.col("rank").asc()
    )
    ideal = graded.withColumn("irank", F.row_number().over(iw))
    scored = (
        ideal.join(F.broadcast(ddf), "rank")
        .join(
            F.broadcast(ddf.select(F.col("rank").alias("irank"), F.col("d").alias("id"))),
            "irank",
        )
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.col("rel") * F.col("d")).cast("bigint").alias("dcg_scaled"),
            F.sum(F.col("rel") * F.col("id")).cast("bigint").alias("idcg_scaled"),
        )
    )
    return (
        scored.join(
            F.broadcast(nation),
            scored.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            "dcg_scaled",
            "idcg_scaled",
            F.round(
                F.col("dcg_scaled")
                / F.nullif(F.col("idcg_scaled"), F.lit(0)).cast("double"),
                6,
            ).alias("ndcg"),
        )
        .orderBy("n_name")
    )


def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence (bits) between each source's language
    distribution and the corpus-wide one — the bounded, symmetric drift
    score run between ingest batches / data sources before mixing (the
    information-theoretic upgrade of :func:`q_chi_square`: JSD is finite
    even when a source lacks a language entirely).

    Exactness: all distributions are exact integer counts; each term is
    ``floor(1e6 · c · ln(ratio-of-int64-products))`` — floored BIGINTs
    sum exactly in any order, and the closing expression is a fixed
    handful of double ops (the ml/nb.py libm-portability argument).

    Scale: ONE (source, lang)-pair count aggregate; the bounded cell
    table is the sufficient statistic and finishes on the driver (the
    :func:`q_mutual_information` posture)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = collect_bounded(
        docs.where(F.col("source").isNotNull() & F.col("lang").isNotNull())
        .groupBy(F.col("source").alias("s"), F.col("lang").alias("l"))
        .agg(F.count(F.lit(1)).alias("c")),
        _MAX_CELL_ROWS,
        "q_js_divergence source×lang cell table",
    )
    schema = "source string, n_docs bigint, _jsd double"
    if not cells:
        return local_rows(spark, [], schema).select(
            "source", "n_docs", F.col("_jsd").alias("jsd_bits")
        )
    counts, a_tot, b_tot, bb = _cell_marginals(cells, "s", "l", "c")
    rows = []
    for s in sorted(a_tot, key=_null_first):
        a = a_tot[s]
        sp = sq = 0
        for l, b in b_tot.items():
            cab = counts.get((s, l), 0)
            denom = cab * bb + b * a
            # float() before dividing mirrors the oracle's double casts
            # (1-ulp parity past 2^53); scale is the shared ENTROPY_SCALE
            if cab > 0:
                sp += math.floor(
                    float(ENTROPY_SCALE)
                    * cab
                    * math.log(float(2 * cab * bb) / float(denom))
                )
            if b > 0:
                sq += math.floor(
                    float(ENTROPY_SCALE)
                    * b
                    * math.log(float(2 * b * a) / float(denom))
                )
        jsd = (
            sp / float(ENTROPY_SCALE) / a + sq / float(ENTROPY_SCALE) / bb
        ) / 2 / math.log(2.0)
        rows.append((s, a, jsd))
    return (
        local_rows(spark, rows, schema)
        .select("source", "n_docs", F.round("_jsd", 6).alias("jsd_bits"))
        .orderBy("source")
    )


def q_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split audit: apply the engine-portable md5-threshold
    split rule (the :func:`q_ngram_novelty` split) and report, per
    (split, language) — counts, within-split share, the expected count
    under independence, and the chi-square contribution — the leakage /
    stratification-skew check run on every holdout before trusting eval
    numbers on it.

    Counts are exact integers; expected counts and contributions are
    single deterministic double expressions over exact aggregates (the
    :func:`q_chi_square` tactic — no libm at all).

    Scale: one (split, lang) count aggregate; marginals are window sums
    over the tiny contingency table, never a second corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
        < "80000000",
        "train",
    ).otherwise("test")
    cells = docs.groupBy(
        split.alias("split"), F.col("lang").alias("lang")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_split = Window.partitionBy("split")
    w_lang = Window.partitionBy("lang")
    w_all = Window.partitionBy()
    with_m = cells.select(
        "split",
        "lang",
        "n",
        F.sum("n").over(w_split).alias("n_split"),
        F.sum("n").over(w_lang).alias("n_lang"),
        F.sum("n").over(w_all).alias("n_total"),
    )
    expected = (
        F.col("n_split").cast("double")
        * F.col("n_lang").cast("double")
        / F.col("n_total").cast("double")
    )
    return with_m.select(
        "split",
        "lang",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("n_split"), 6).alias("share_in_split"),
        F.round(expected, 6).alias("expected"),
        F.round(
            (F.col("n") - expected) * (F.col("n") - expected) / expected, 6
        ).alias("chi2_contrib"),
    ).orderBy("split", "lang")


# --------------------------------------------------------------------------
# round 5 — statistics / sampling tier
# --------------------------------------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum ~10% sample of orders (md5-threshold on
    the key), audited per o_orderpriority — the reproducible-sampling
    primitive every training-data pipeline needs: the same row set comes
    back on every engine, every run, every cluster size, because
    membership is a pure function of the key (no RNG state, no
    partition-order dependence).

    Membership: the first 4 hex digits of ``md5(orderkey)`` compared
    lexicographically against '1999' (0x1999/0x10000 ≈ 9.99%) — hex
    strings of equal length order identically to their numeric values,
    and both engines lowercase md5 hex, so the predicate is
    engine-portable verbatim.  Cites the reference's sampled-listing
    endpoints (backend/app/routers/listings.py:1) generalized to
    stratified corpus sampling.

    Scale: map-only predicate + ONE conditional aggregate (no second
    scan for the totals); nothing shuffles but the |strata|-row rollup.
    The audit emits min/max sampled key per stratum as determinism
    witnesses."""
    orders = load_table(spark, sf_dir, "orders")
    in_sample = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4) < "1999"
    cents = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(in_sample.cast("bigint")).alias("n_sampled"),
            F.min(F.when(in_sample, F.col("o_orderkey"))).alias("min_sampled_key"),
            F.max(F.when(in_sample, F.col("o_orderkey"))).alias("max_sampled_key"),
            (F.sum(F.when(in_sample, cents)) * 100)
            .cast("bigint")
            .alias("sampled_cents"),
        )
        .select(
            "priority",
            F.col("n_total").cast("bigint").alias("n_total"),
            F.col("n_sampled").cast("bigint").alias("n_sampled"),
            F.round(
                F.col("n_sampled") / F.nullif(F.col("n_total"), F.lit(0)), 6
            ).alias("sample_rate"),
            "min_sampled_key",
            "max_sampled_key",
            "sampled_cents",
        )
        .orderBy("priority")
    )


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean of order value per market segment —
    the robust-location cousin of :func:`q_outlier_mad` (trim instead of
    re-weight).  Each segment drops its floor(n/10) cheapest and
    priciest orders (deterministic rank: cents, then orderkey) and
    averages the rest in exact integer cents.

    Scale: the rank window partitions BY SEGMENT over (cents, key)
    pairs — no global sort; one shuffle for the window, one bounded
    rollup after.  Exactness: the kept-sum is BIGINT cents; the single
    closing division is mirrored CAST-to-double on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("segment").orderBy(
        F.col("cents").asc(), F.col("o_orderkey").asc()
    )
    ranked = rows.select(
        "segment",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("segment")).alias("n"),
    )
    k = F.floor(F.col("n") / 10)
    kept = ranked.where((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k))
    return (
        kept.groupBy("segment")
        .agg(
            F.max("n").alias("n"),
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("cents").alias("kept_cents"),
        )
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.round(
                F.col("kept_cents")
                / F.nullif(F.col("n_kept").cast("double") * 100.0, F.lit(0.0)),
                6,
            ).alias("trimmed_mean"),
        )
        .orderBy("segment")
    )


def _doubled_avg_ranks(df: DataFrame, part_cols: list[str], value_col: str) -> DataFrame:
    """Value-level average ranks, doubled so they stay integers.

    For each distinct value v within a partition: preceding count p,
    tie count c → ranks p+1..p+c share average rank p + (c+1)/2, i.e.
    doubled rank ``2p + c + 1`` — exact BIGINT, no halves.  Computed on
    the VALUE-LEVEL aggregate (one row per distinct value), so the
    ordered window runs over the value domain, never the fact rows —
    the scale posture shared by q_mannwhitney / q_ks_test / Spearman."""
    per_value = df.groupBy(*part_cols, value_col).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
        if part_cols
        else Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, -1)
    )
    return per_value.select(
        *part_cols,
        value_col,
        "c",
        (2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1).alias("r2"),
    )


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price per
    return flag — the monotone-association check run on corpus signal
    pairs before assuming linearity (its Pearson cousin is
    q_corr_stats).  Average-rank tie handling, so the statistic is the
    textbook tie-corrected rho.

    Engine-exact core: ranks are value-level DOUBLED average ranks
    (BIGINT, see _doubled_avg_ranks), the five Pearson moments over
    (rx2, ry2) are decimal(38,0) sums, and the closing rho is ONE fixed
    double expression mirrored verbatim in the oracle.

    Scale: two value-level rank windows (domain-bounded inputs), one
    broadcast-joinable rank map per axis applied in a single fact scan,
    one moment aggregate.  No fact-sized sort anywhere."""
    def _li(fan: bool) -> DataFrame:
        return load_table(spark, sf_dir, "lineitem", fan=fan).select(
            F.col("l_returnflag").alias("flag"),
            (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint").alias("qty"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("price"),
        )

    # Branch-specific fan (guide §2.6 stragglers): the two rank spines
    # start with their own groupBy exchanges, so their scans stay
    # unfanned (the round's global-fan A/B measured that as a wash);
    # the MOMENT pass is different — both rank maps broadcast onto the
    # fact scan, so its five decimal(37) products per row partial-
    # aggregate INSIDE the single-row-group scan stage, i.e. on one
    # core (measured: 5.4 s of the key's 6 s is that stage).  Fanning
    # just this branch spreads the BigDecimal work across the session's
    # parallelism.
    li = _li(False)
    rx = _doubled_avg_ranks(li, ["flag"], "qty").select(
        "flag", "qty", F.col("r2").alias("rx2")
    )
    ry = _doubled_avg_ranks(li, ["flag"], "price").select(
        "flag", "price", F.col("r2").alias("ry2")
    )
    fact = _li(True)
    joined = fact.join(rx, ["flag", "qty"]).join(ry, ["flag", "price"])
    # operands cast to decimal(18,0) BEFORE multiplying: doubled ranks
    # reach ~4e11 at 100 TB row counts, so a BIGINT product would wrap
    # silently (the q_crosscorr_lagged lesson); precision-37 products
    # and their sums stay exact.
    # (r11 A/B note: a value-level moment fold — broadcast the qty rank
    # map, pre-aggregate the fact to (flag, price) partial sums, join
    # the price ranks value-level — was measured interleaved and LOST
    # (6.27 → 6.48 min, 6.5 → 8.3 median): price is near-unique, so the
    # (flag, price) aggregate builds a fact-sized hash table while the
    # shipped shape's two rank joins already broadcast at this scale.)
    m = joined.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(_d18("rx2")).alias("sx"),
        F.sum(_d18("ry2")).alias("sy"),
        F.sum(_d18("rx2") * _d18("ry2")).alias("sxy"),
        F.sum(_d18("rx2") * _d18("rx2")).alias("sxx"),
        F.sum(_d18("ry2") * _d18("ry2")).alias("syy"),
    )
    # closing formula: cast each exact moment to double FIRST, then a
    # fixed IEEE expression (decimal×decimal at p=38 would overflow
    # Spark's precision cap; double ops mirror the oracle verbatim)
    nD = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    num = nD * sxy - sx * sy
    varx = nD * sxx - sx * sx
    vary = nD * syy - sy * sy
    return m.select(
        "flag",
        F.col("n"),
        F.round(
            num / F.nullif(F.sqrt(varx * vary), F.lit(0.0)), 6
        ).alias("spearman_rho"),
    ).orderBy("flag")


#: the two market segments the two-sample tests compare.
_TWO_SAMPLE_SEGMENTS = ("BUILDING", "MACHINERY")


def _two_sample_value_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cents, c1, c2) per distinct order value across the two compared
    segments — the shared sufficient statistic of q_mannwhitney and
    q_ks_test.  One fact scan, one value-level aggregate; every ordered
    window downstream runs on this spine (bounded by the value domain),
    never on fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    a, b = _TWO_SAMPLE_SEGMENTS
    rows = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("c_mktsegment").isin(a, b))
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
            (F.col("c_mktsegment") == a).cast("bigint").alias("is_a"),
        )
    )
    return rows.groupBy("cents").agg(
        F.sum("is_a").alias("c1"),
        F.sum(1 - F.col("is_a")).alias("c2"),
    )


def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (two-sided rank-sum) comparing order values of the
    BUILDING vs MACHINERY segments, with the rank-biserial effect size
    (AUC) — the nonparametric A/B test used when t-test normality can't
    be assumed (the distribution-free sibling of q_ab_test).

    Exact core: on the value spine, a value with preceding pooled count
    p and ties c has doubled average rank ``2p + c + 1`` (BIGINT); the
    group-1 doubled rank sum R1_2 and U1 = (R1_2 − 2·n1(n1+1)/2)/2 stay
    exact integers halved once at the end.  AUC = U1/(n1·n2) is one
    mirrored double division.

    Scale: one fact scan → value-level aggregate; the only ordered
    window is a running sum over the value spine (domain-bounded in
    cents).  No fact-row sort, no driver state."""
    spine = _two_sample_value_spine(spark, sf_dir)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = spine.select(
        "c1",
        "c2",
        (
            2 * F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0))
            + F.col("c1")
            + F.col("c2")
            + 1
        ).alias("r2"),
    )
    # decimal before multiply: c1·r2 and n1² pass 2^63 at 100 TB pooled
    # row counts (review finding, round 5) — the oracle already sums to
    # HUGEINT; fixture values are unchanged
    m = ranked.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.col("c1").cast("decimal(18,0)") * F.col("r2").cast("decimal(18,0)")
        ).alias("r1_2"),
    )
    u1_2 = F.col("r1_2") - F.col("n1").cast("decimal(18,0)") * (
        F.col("n1") + 1
    ).cast("decimal(18,0)")  # doubled U1, exact decimal
    n1n2 = F.col("n1").cast("double") * F.col("n2").cast("double")
    return m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        (u1_2.cast("double") / 2.0).alias("u1"),
        F.round(
            u1_2.cast("double") / 2.0 / F.nullif(n1n2, F.lit(0.0)), 6
        ).alias("auc"),
    )


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the BUILDING and
    MACHINERY order-value distributions — the drift detector for
    continuous signals (its categorical sibling is q_chi_square; its
    information-theoretic sibling q_js_divergence).

    Exact core: on the shared value spine, D = max over values of
    |F1 − F2| is maximized as the INTEGER |cum1·n2 − cum2·n1| (cross-
    multiplication, no per-value division), divided once at the end.
    The scaled statistic sqrt(n1·n2/(n1+n2))·D is one mirrored double
    expression.

    Scale: identical posture to q_mannwhitney — value-level aggregate +
    one running-sum window over the spine."""
    spine = _two_sample_value_spine(spark, sf_dir)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = spine.select(
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    totals = spine.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    scaled = (
        cum.join(F.broadcast(totals))
        .select(
            "n1",
            "n2",
            # decimal before multiply — cum·n passes 2^63 at 100 TB
            # pooled counts (review finding, round 5)
            F.abs(_d18("cum1") * _d18("n2") - _d18("cum2") * _d18("n1")).alias(
                "d_scaled"
            ),
        )
        .groupBy("n1", "n2")
        .agg(F.max("d_scaled").alias("d_max"))
    )
    n1n2 = F.col("n1").cast("double") * F.col("n2").cast("double")
    d = F.col("d_max").cast("double") / F.nullif(n1n2, F.lit(0.0))
    return scaled.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(d, 6).alias("d_stat"),
        F.round(
            d
            * F.sqrt(
                n1n2
                / F.nullif(
                    F.col("n1").cast("double") + F.col("n2").cast("double"),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("ks_scaled"),
    )


def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of order value across market segments —
    the k-group generalization of q_ab_test's two-sample comparison,
    answering "does segment explain any of the price variance?"

    Fully distributed, no driver state: per-segment sufficient moments
    (n BIGINT, Σcents BIGINT, Σcents² summed as decimal(38,0) of BIGINT
    per-row products), then each group's between/within terms are fixed
    double expressions floor-scaled to BIGINT (÷100 — terms are in
    cents², so the scale goes DOWN to dodge int64 overflow) before the
    final k-row sum — the house order-independence rule, so partition
    order can never perturb F.  The statistic is declared AS the
    floor-scaled version (relative error ≤ 1e-16, documented); sums of
    squares are reported in dollars².

    Scale: one fact-scan moment aggregate (map-side combinable), one
    broadcast of the 1-row grand totals, one k-row rollup."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    groups = rows.groupBy("segment").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("cents").alias("sg"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).alias("qg"),
    )
    totals = groups.agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.count(F.lit(1)).alias("k"),
    )
    g = groups.join(F.broadcast(totals))
    ngD = F.col("ng").cast("double")
    mean_g = F.col("sg").cast("double") / ngD
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    ssb_term = ngD * (mean_g - mean) * (mean_g - mean)
    ssw_term = F.col("qg").cast("double") - (
        F.col("sg").cast("double") * F.col("sg").cast("double") / ngD
    )
    # terms are in cents² (up to ~2e18 per group at sf0.1) — floor-scale
    # DOWN by 100 (hundredths of dollars²) so the order-independent
    # BIGINT sum can never overflow; relative error ≤ 1e-16
    scaled = g.select(
        "n",
        "k",
        F.floor(ssb_term / 100.0).cast("bigint").alias("ssb_s"),
        F.floor(ssw_term / 100.0).cast("bigint").alias("ssw_s"),
    )
    m = scaled.groupBy("n", "k").agg(
        F.sum("ssb_s").alias("ssb"), F.sum("ssw_s").alias("ssw")
    )
    df1 = (F.col("k") - 1).cast("double")
    df2 = (F.col("n") - F.col("k")).cast("double")
    f_stat = (F.col("ssb").cast("double") / F.nullif(df1, F.lit(0.0))) / F.nullif(
        F.col("ssw").cast("double") / F.nullif(df2, F.lit(0.0)), F.lit(0.0)
    )
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(F.col("ssb") / F.lit(100.0), 4).alias("ss_between_dollars2"),
        F.round(F.col("ssw") / F.lit(100.0), 4).alias("ss_within_dollars2"),
        F.round(f_stat, 6).alias("f_stat"),
    )


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the lang × source association in the
    document corpus — q_chi_square's normalized cousin: the [0, 1]
    strength number a drift dashboard can threshold without caring about
    table size (χ² alone grows with n).

    Same sufficient-statistic posture as q_chi_square: ONE bounded
    (lang, source) cell aggregate (collect_bounded-guarded), marginals
    and the FULL-GRID floor-scaled χ² finish in exact driver arithmetic
    (zero cells included), then V = sqrt(χ² / (n·min(r−1, c−1))) as a
    fixed double expression in the returned Spark projection."""
    docs = load_table(spark, sf_dir, "documents")
    cells = collect_bounded(
        docs.where(F.col("lang").isNotNull() & F.col("source").isNotNull())
        .groupBy(F.col("lang").alias("a"), F.col("source").alias("b"))
        .agg(F.count(F.lit(1)).alias("c")),
        _MAX_CELL_ROWS,
        "q_cramers_v lang×source cell table",
    )
    schema = "_s bigint, r bigint, cc bigint, n bigint"
    counts, a_tot, b_tot, n = _cell_marginals(cells, "a", "b", "c")
    # degenerate EMPTY corpus: zero rows on BOTH engines — the oracle's
    # final SELECT carries WHERE n IS NOT NULL so its ungrouped aggregate
    # over the empty grid can't emit a stray (NULL, 1, NULL, NULL) row
    # (round-6 advice; monoculture grids still emit their one real row)
    if n == 0:
        return local_rows(spark, [], schema).select(
            F.col("_s").cast("double").alias("chi2"),
            F.col("r").alias("dof"),
            "n",
            F.col("_s").cast("double").alias("cramers_v"),
        )
    # single-row/column grids proceed: every o equals its expectation so
    # chi2 = 0, dof = 0, and V goes NULL through the nullif denominator —
    # exactly what the oracle emits (review finding, round 5)
    s_chi = 0
    for a in a_tot:
        for b in b_tot:
            o = counts.get((a, b), 0)
            e = float(a_tot[a] * b_tot[b]) / float(n)
            s_chi += math.floor(((o - e) * (o - e) / e) * 1000000.0)
    r, c = len(a_tot), len(b_tot)
    row = local_rows(spark, [(s_chi, r, c, n)], schema)
    chi2 = F.col("_s") / F.lit(1000000.0)
    denom = F.nullif(
        (F.col("n") * F.least(F.col("r") - 1, F.col("cc") - 1)).cast("double"),
        F.lit(0.0),
    )
    return row.select(
        F.round(chi2, 4).alias("chi2"),
        ((F.col("r") - 1) * (F.col("cc") - 1)).cast("bigint").alias("dof"),
        "n",
        F.round(F.sqrt(chi2 / denom), 6).alias("cramers_v"),
    )


def _daily_rev_vol_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, rev cents, vol, d): the day-grain revenue/volume spine
    shared by q_crosscorr_lagged and q_kendall_tau — one place for the
    exact-cents aggregate and the epoch offset, so overflow/epoch fixes
    can never diverge between the pair (review finding, round 5)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev"),
        F.count(F.lit(1)).alias("vol"),
    ).withColumn(
        "d", F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
    )


#: maximum lag (days) for the lagged cross-correlation scan.
XCORR_MAX_LAG = 7


def q_crosscorr_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between daily revenue and daily order
    volume (lags 0..7 days): does money follow volume with a delay?  The
    lead-lag diagnostic behind "which signal moves first" monitoring
    (same family as q_autocorr_revenue, which correlates a series with
    itself).

    Scale posture: everything after the one fact-scan day rollup runs on
    the CALENDAR-bounded spine; the lag alignment is a spine×8 self-join
    (days × lags rows).  Exact core: Pearson moments per lag are BIGINT /
    decimal(38,0) sums of integer products; each correlation is one
    fixed double expression over the cast moments."""
    daily = _daily_rev_vol_spine(spark, sf_dir)
    lags = spark.range(0, XCORR_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(F.broadcast(lags))
        .join(
            b,
            F.col("b.d") == F.col("a.d") - F.col("lag"),
        )
        .select(
            "lag",
            F.col("a.rev").alias("x"),  # revenue today
            F.col("b.vol").alias("y"),  # volume `lag` days earlier
        )
    )
    # daily-revenue cents can reach ~1e11 on dense days, so x·x would
    # overflow BIGINT — cast operands to decimal(18,0) FIRST (product
    # precision 37 stays exact under Spark's 38 cap)
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(_d18("x")).alias("sx"),
        F.sum(_d18("y")).alias("sy"),
        F.sum(_d18("x") * _d18("y")).alias("sxy"),
        F.sum(_d18("x") * _d18("x")).alias("sxx"),
        F.sum(_d18("y") * _d18("y")).alias("syy"),
    )
    nD = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    num = nD * sxy - sx * sy
    den = F.sqrt((nD * sxx - sx * sx) * (nD * syy - sy * sy))
    return m.select(
        "lag",
        "n",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("xcorr"),
    ).orderBy("lag")


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between daily revenue and daily order volume — the
    concordance-based association measure, more robust to outliers than
    Spearman and exactly computable from pair counts.

    Scale shape: the quadratic pair join runs on the CALENDAR-grain
    day spine (the q_theil_sen precedent) — pairs are days², invariant
    to fact-row count.  Exact core: concordant / discordant / tie
    counts are pure BIGINT comparisons; n0/t-terms come from the same
    spine; τ-b's sqrt denominator is the single closing double
    expression."""
    daily = _daily_rev_vol_spine(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        (F.col("a.rev") - F.col("b.rev")).alias("dx"),
        (F.col("a.vol") - F.col("b.vol")).alias("dy"),
    )
    sgn = lambda c: F.signum(F.col(c).cast("double")).cast("int")  # noqa: E731
    m = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((sgn("dx") * sgn("dy") == 1).cast("bigint")).alias("concordant"),
        F.sum((sgn("dx") * sgn("dy") == -1).cast("bigint")).alias("discordant"),
        F.sum(((F.col("dx") == 0) & (F.col("dy") != 0)).cast("bigint")).alias("tx"),
        F.sum(((F.col("dy") == 0) & (F.col("dx") != 0)).cast("bigint")).alias("ty"),
        F.sum(((F.col("dx") == 0) & (F.col("dy") == 0)).cast("bigint")).alias("txy"),
    )
    den = F.sqrt(
        (F.col("n0") - F.col("tx") - F.col("txy")).cast("double")
        * (F.col("n0") - F.col("ty") - F.col("txy")).cast("double")
    )
    return m.select(
        F.col("n0").cast("bigint").alias("n_pairs"),
        F.col("concordant").cast("bigint").alias("concordant"),
        F.col("discordant").cast("bigint").alias("discordant"),
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.nullif(den, F.lit(0.0)),
            6,
        ).alias("kendall_tau_b"),
    )


def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table on customer lifetime spend: rank
    customers into spend deciles and measure how the high-F-order
    population concentrates in the top deciles — THE model-evaluation
    table for any targeting/score model (here scored by spend itself,
    positives = customers with a finalized 'F' order).

    Scale: deciles are ntile(10) over the per-customer PRE-aggregate
    with a deterministic (cents desc, custkey) order — a range-partition
    sort of |customers| rows, never fact rows.  All shares are integer
    cross-ratios; the cumulative capture runs over the 10-row decile
    table."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents"),
        F.max((F.col("o_orderstatus") == "F").cast("bigint")).alias("pos"),
    )
    w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey").asc())
    deciles = per_cust.select(
        "cents", "pos", F.ntile(10).over(w).alias("decile")
    )
    per_dec = deciles.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
        F.sum("cents").alias("dec_cents"),
    )
    tot = per_dec.agg(
        F.sum("n").alias("nt"), F.sum("n_pos").alias("pt")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_dec.join(F.broadcast(tot))
        .select(
            "decile",
            F.col("n").cast("bigint").alias("n_customers"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            "dec_cents",
            F.round(
                F.col("n_pos") / F.nullif(F.col("n"), F.lit(0)), 6
            ).alias("pos_rate"),
            F.round(
                (F.col("n_pos") * F.col("nt")).cast("double")
                / F.nullif((F.col("n") * F.col("pt")).cast("double"), F.lit(0.0)),
                6,
            ).alias("lift"),
            F.round(
                F.sum("n_pos").over(wc) / F.nullif(F.col("pt"), F.lit(0)), 6
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )


def q_shannon_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-diversity profile of the corpus: richness
    (distinct langs), Shannon entropy in bits, and the Simpson
    concentration index — the "is this source a monoculture?" triage
    every multi-source corpus mix starts with (per-group sibling of
    q_column_entropy's whole-table profile).

    Posture: ONE (source, lang) cell aggregate (collect_bounded), then
    per-source entropy finishes on the driver — Σ floor(1e6·c·ln c)
    BIGINT terms (order-independent; driver math.log == DuckDB ln, the
    ml/nb.py libm argument) closed by a fixed double expression with
    ln(n_s) computed driver-side.  Simpson is exact integer
    cross-multiplication."""
    docs = load_table(spark, sf_dir, "documents")
    cells = collect_bounded(
        docs.groupBy(F.col("source").alias("s"), F.col("lang").alias("l"))
        .agg(F.count(F.lit(1)).alias("c")),
        _MAX_CELL_ROWS,
        "q_shannon_diversity source×lang cell table",
    )
    schema = (
        "source string, n_docs bigint, richness bigint, _sl bigint, "
        "_simp_num bigint, _ln_n double"
    )
    per_source: dict = {}
    for r in cells:
        st = per_source.setdefault(r["s"], {"n": 0, "rich": 0, "sl": 0, "simp": 0})
        c = r["c"]
        st["n"] += c
        st["rich"] += 1
        st["sl"] += math.floor(1000000.0 * c * math.log(c))
        st["simp"] += c * (c - 1)
    if not per_source:
        return local_rows(spark, [], schema).select(
            "source",
            "n_docs",
            "richness",
            F.col("_sl").cast("double").alias("entropy_bits"),
            F.col("_simp_num").cast("double").alias("simpson"),
        )
    rows = [
        (s, st["n"], st["rich"], st["sl"], st["simp"], math.log(st["n"]))
        for s, st in sorted(per_source.items(), key=lambda kv: _null_first(kv[0]))
    ]
    df = local_rows(spark, rows, schema)
    n = F.col("n_docs").cast("double")
    # H = ln(n) − (Σ c·ln c)/n, in bits.  ln(n_s) is computed DRIVER-side
    # (math.log == DuckDB ln, the ml/nb.py libm argument) — the JVM's
    # Math.log is NOT guaranteed bit-equal to libm, so F.log stays out
    # of the parity path.
    h_bits = (
        F.col("_ln_n") - (F.col("_sl") / F.lit(1000000.0)) / n
    ) / F.lit(float(math.log(2.0)))
    simpson = F.col("_simp_num").cast("double") / F.nullif(
        n * (n - F.lit(1.0)), F.lit(0.0)
    )
    return df.select(
        "source",
        "n_docs",
        "richness",
        F.round(h_bits, 6).alias("entropy_bits"),
        F.round(simpson, 6).alias("simpson"),
    ).orderBy("source")


#: Poisson(1) CDF thresholds scaled to 16^6 as 6-hex-digit strings —
#: shared verbatim between the Spark plan and the DuckDB oracle so the
#: md5-uniform → bootstrap-weight mapping is engine-identical.
#: floor(cdf(k) · 16^6) for k = 0..5; weights above 5 clamp to 6.
POISSON_CDF_HEX = ("5e2d58", "bc5ab1", "eb715e", "fb2397", "ff1025", "ffd90f")

#: number of bootstrap replicates.
BOOTSTRAP_REPLICATES = 32


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap CI for the mean order value — THE
    at-scale bootstrap (resampling-with-replacement is impossible to
    coordinate across executors, but per-row independent Poisson(1)
    weights converge to the same resample distribution; Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", the standard
    industrial reference).

    Determinism: replicate r's weight for a row counts the shared
    :data:`POISSON_CDF_HEX` thresholds at or below the first 6 md5 hex
    digits of ``key|r`` — a pure function of (key, r), so every engine,
    run, and cluster size resamples identically.  Spark-side the hex is
    converted once to an integer (``conv(h6, 16, 10)``) and the weight
    is a branch-free sum of six integer ``>=`` comparisons — measured
    1.7× faster at sf0.1 than the equivalent 6-deep string CASE ladder
    (7.7 → 4.6 s; round-7 advice A/B), value-identical because both
    orderings compare fixed-width lowercase hex.  The oracle keeps the
    string ladder — same w by construction.  Each replicate mean is an
    exact BIGINT ratio; the CI bounds are the exact 2.5/97.5 percentiles
    over the tiny replicate-mean vector.

    Scale: one fact scan fanned out ×B by a broadcast replicate spine,
    partial-aggregated map-side into B groups; the percentile runs over
    B values.  B×rows is map work, not shuffle width."""
    orders = load_table(spark, sf_dir, "orders", fan=True)
    reps = spark.range(0, BOOTSTRAP_REPLICATES).select(
        F.col("id").cast("int").alias("rep")
    )
    h6 = F.substring(
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("|"),
                F.col("rep").cast("string"),
            )
        ),
        1,
        6,
    )
    v = F.conv(h6, 16, 10).cast("bigint")
    w = sum(
        (v >= F.lit(int(t, 16))).cast("int") for t in POISSON_CDF_HEX
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    per_rep = (
        orders.join(F.broadcast(reps))
        .select(F.col("rep"), w.cast("bigint").alias("w"), cents.alias("cents"))
        .groupBy("rep")
        .agg(
            F.sum("w").alias("nw"),
            F.sum(F.col("w") * F.col("cents")).alias("sw"),
        )
        .select(
            "rep",
            (
                F.col("sw").cast("double")
                / F.nullif(F.col("nw").cast("double") * 100.0, F.lit(0.0))
            ).alias("rep_mean"),
        )
    )
    return per_rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.round(F.expr("percentile(rep_mean, 0.5D)"), 6).alias("boot_median"),
        F.round(F.expr("percentile(rep_mean, 0.025D)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(rep_mean, 0.975D)"), 6).alias("ci_hi"),
    )


def q_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR fences per market segment: exact Q1/Q3 of order cents,
    the 1.5·IQR fences, and how many orders fall outside each — the
    box-plot outlier audit (MAD's quartile-based sibling; see
    q_outlier_mad for the robust-z variant).

    Exactness: quartiles interpolate linearly over exact integers
    (the q_percentile_multi precedent — bit-equal across engines);
    fences and comparisons are fixed double expressions.

    Scale: one percentile aggregate per segment (documented exact-sort
    cost; approx_percentile is the registered 100 TB switch family),
    then the 5-row fence table broadcasts back onto one conditional
    rescan — never a per-row window."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    q = rows.groupBy("segment").agg(
        F.expr("percentile(cents, array(0.25D, 0.75D))").alias("p"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "segment",
        "n",
        F.element_at("p", 1).alias("q1"),
        F.element_at("p", 2).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    fenced = rows.join(F.broadcast(q), "segment")
    return (
        fenced.groupBy("segment")
        .agg(
            F.max("n").alias("n"),
            F.round(F.max("q1") / 100.0, 4).alias("q1"),
            F.round(F.max("q3") / 100.0, 4).alias("q3"),
            F.sum((F.col("cents").cast("double") < lo).cast("bigint")).alias(
                "n_low_outliers"
            ),
            F.sum((F.col("cents").cast("double") > hi).cast("bigint")).alias(
                "n_high_outliers"
            ),
        )
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n"),
            "q1",
            "q3",
            "n_low_outliers",
            "n_high_outliers",
        )
        .orderBy("segment")
    )


def q_polyfit_quadratic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares quadratic trend y = a + b·t + c·t² of monthly
    revenue — q_theil_sen's parametric cousin with curvature: the
    drift monitor that distinguishes "growing" from "accelerating".

    Fully distributed normal equations: the month spine contributes ONE
    moment aggregate (Σtᵏ, Σtᵏy for k ≤ 4 — BIGINT/decimal(38,0)
    exact), and the 3×3 system solves by Cramer's rule as fixed double
    expressions over the cast moments (no iteration, no collect, no
    libm).  The oracle spells the identical determinant expansions.

    Scale: the fact table folds to the calendar-bounded month spine
    first; everything else is O(1)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("y")
    ).select(
        (
            F.months_between(
                F.col("month"), F.lit("1995-01-01").cast("timestamp")
            )
        ).cast("bigint").alias("t"),
        "y",
    )
    d38 = "decimal(38,0)"
    m = monthly.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("t").cast(d38)).alias("st1"),
        F.sum((F.col("t") * F.col("t")).cast(d38)).alias("st2"),
        F.sum((F.col("t") * F.col("t") * F.col("t")).cast(d38)).alias("st3"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") * F.col("t")).cast(d38)
        ).alias("st4"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("t") * F.col("y")).cast(d38)).alias("sty"),
        F.sum((F.col("t") * F.col("t") * F.col("y")).cast(d38)).alias("st2y"),
    )
    # Cramer's rule on [[n,s1,s2],[s1,s2,s3],[s2,s3,s4]]·[a,b,c] = [sy,sty,st2y]
    nD = F.col("n").cast("double")
    s1, s2, s3, s4 = (
        F.col("st1").cast("double"),
        F.col("st2").cast("double"),
        F.col("st3").cast("double"),
        F.col("st4").cast("double"),
    )
    sy, sty, st2y = (
        F.col("sy").cast("double"),
        F.col("sty").cast("double"),
        F.col("st2y").cast("double"),
    )
    det = (
        nD * (s2 * s4 - s3 * s3)
        - s1 * (s1 * s4 - s3 * s2)
        + s2 * (s1 * s3 - s2 * s2)
    )
    det_a = (
        sy * (s2 * s4 - s3 * s3)
        - s1 * (sty * s4 - s3 * st2y)
        + s2 * (sty * s3 - s2 * st2y)
    )
    det_b = (
        nD * (sty * s4 - s3 * st2y)
        - sy * (s1 * s4 - s3 * s2)
        + s2 * (s1 * st2y - sty * s2)
    )
    det_c = (
        nD * (s2 * st2y - sty * s3)
        - s1 * (s1 * st2y - sty * s2)
        + sy * (s1 * s3 - s2 * s2)
    )
    dn = F.nullif(det, F.lit(0.0))
    return m.select(
        F.col("n").alias("n_months"),
        F.round(det_a / dn / 100.0, 6).alias("a_dollars"),
        F.round(det_b / dn / 100.0, 6).alias("b_dollars_per_month"),
        F.round(det_c / dn / 100.0, 6).alias("c_dollars_per_month2"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention matrix from the event stream: users
    cohorted by first-seen month; cell (cohort, k) = share of the cohort
    active k months later — the canonical product-analytics triangle
    (complements q_customer_ltv_cohort's revenue view and
    q_new_vs_returning's daily split).

    Exact: cohort sizes and active counts are integers; retention is
    one division.  Scale: per-user first-seen is a map-side-combinable
    min; the matrix join runs on (user, month) DISTINCT activity —
    bounded by users × months, joined on the cohort spine broadcast."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort_month")
    )
    cohort_sizes = first_seen.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    activity = ev.select(
        "user_id", F.date_trunc("month", "ts").alias("act_month")
    ).distinct()
    cells = (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_month",
            F.months_between(F.col("act_month"), F.col("cohort_month"))
            .cast("bigint")
            .alias("month_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "cohort_month")
        .select(
            "cohort_month",
            "month_offset",
            F.col("active_users").cast("bigint").alias("active_users"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.round(
                F.col("active_users") / F.nullif(F.col("cohort_size"), F.lit(0)),
                6,
            ).alias("retention"),
        )
        .orderBy("cohort_month", "month_offset")
    )


#: Dirichlet prior pseudo-count for the log-odds keyword extractor.
TOPIC_PRIOR = 0.5

#: keywords reported per source.
TOPIC_TOP_K = 3


def q_topic_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic vocabulary per source: informative-Dirichlet
    log-odds ratio with variance normalization (Monroe, Colaresi &
    Quinn 2008, "Fightin' Words") of each word in one source vs the
    rest of the corpus; top-3 words per source by z-score.

    Declared ROWS-ONLY: the per-word log-odds needs executor-side
    ``ln`` over data-dependent counts, and JVM ``Math.log`` is not
    bit-guaranteed against DuckDB's libm ``ln`` (the ml/nb.py
    portability argument in reverse) — the pytest oracle
    (tests/test_round5_operators.py) recomputes the full statistic in
    numpy and asserts the same keywords with tolerance-checked scores.

    Scale: one tokenize scan → (source, word) counts; global word
    totals via a second aggregation of the SAME counts (no rescan);
    z-scores are map work; top-3 per source is a bounded window over
    |sources| partitions."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(
            F.array_remove(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "")
        ).alias("word"),
    )
    sw = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c_sw"))
    w_tot = sw.groupBy("word").agg(F.sum("c_sw").alias("c_w"))
    s_tot = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    n_all = sw.agg(F.sum("c_sw").alias("n_all"))
    a0 = float(TOPIC_PRIOR)
    joined = (
        sw.join(F.broadcast(w_tot), "word")
        .join(F.broadcast(s_tot), "source")
        .join(F.broadcast(n_all))
    )
    y_sw = F.col("c_sw").cast("double")
    y_rw = (F.col("c_w") - F.col("c_sw")).cast("double")
    n_s = F.col("n_s").cast("double")
    n_r = (F.col("n_all") - F.col("n_s")).cast("double")
    delta = (
        F.log((y_sw + a0) / (n_s + 2 * a0 - y_sw - a0))
        - F.log((y_rw + a0) / (n_r + 2 * a0 - y_rw - a0))
    )
    var = 1.0 / (y_sw + a0) + 1.0 / (y_rw + a0)
    scored = joined.select(
        "source",
        "word",
        F.col("c_sw").alias("n_in_source"),
        (delta / F.sqrt(var)).alias("z"),
    )
    wrank = Window.partitionBy("source").orderBy(
        F.col("z").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(wrank))
        .where(F.col("rk") <= TOPIC_TOP_K)
        .select(
            "source",
            F.col("rk").cast("int").alias("rank"),
            "word",
            F.col("n_in_source").cast("bigint").alias("n_in_source"),
            F.round("z", 6).alias("log_odds_z"),
        )
        .orderBy("source", "rank")
    )


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman revenue-concentration index per market
    segment: HHI = Σ (customer share of segment revenue)², plus the
    top-customer share — the antitrust-style "is this segment a few
    whales?" metric (complements q_gini_revenue/q_lorenz_deciles, which
    measure inequality, not concentration).

    Exact: HHI = Σ cents_i² / (Σ cents_i)² with per-customer cents²
    computed decimal(18,0)×decimal(18,0) (customer lifetime cents can
    pass 2^31·100 — BIGINT squares would overflow, the q_crosscorr_lagged
    lesson) and summed decimal-exact; ONE closing double division.

    Scale: per-customer pre-aggregate → one segment rollup; no windows,
    no driver state."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    seg = per_cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").alias("tot_cents"),
        F.sum(_d18("cents") * _d18("cents")).alias("sq_cents"),
        F.max("cents").alias("top_cents"),
    )
    tot = F.col("tot_cents").cast("double")
    return seg.select(
        "segment",
        "n_customers",
        "tot_cents",
        F.round(
            F.col("sq_cents").cast("double") / F.nullif(tot * tot, F.lit(0.0)), 6
        ).alias("hhi"),
        F.round(
            F.col("top_cents").cast("double") / F.nullif(tot, F.lit(0.0)), 6
        ).alias("top1_share"),
    ).orderBy("segment")


def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand from the lineitem history:
    OLS slope of ln(monthly quantity) on ln(monthly average unit price)
    — the canonical demand-curve estimate, run on the calendar-bounded
    month spine.

    Parity design: the spine (≤ months rows, collect_bounded) collects
    to the driver, where each month's ln(avg_price) / ln(qty) terms use
    Python ``math.log`` (== DuckDB ``ln``, the ml/nb.py libm argument)
    on floats derived from exact integers mirroring the oracle's CAST
    chain; every moment is Σ floor(1e9·term) BIGINT — order-independent
    — and the closing slope/intercept are fixed double expressions in
    the returned Spark projection.

    Scale: ONE fact aggregate to the month grain; everything after is
    O(months) driver arithmetic — same posture as q_chi_square."""
    li = load_table(spark, sf_dir, "lineitem")
    spine = collect_bounded(
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("month")).agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("rev_cents"),
            (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("qty_100"),
        ),
        _MAX_CELL_ROWS,
        "q_price_elasticity month spine",
    )
    schema = "n bigint, sx bigint, sy bigint, sxy bigint, sxx bigint"
    n = sx = sy = sxy = sxx = 0
    for r in spine:
        # strictly-positive guard: a returns-heavy month can go negative
        # and ln(negative) raises where the oracle's ln() yields NULL —
        # both sides now drop non-positive months (review finding, r5)
        if (r["qty_100"] or 0) <= 0 or (r["rev_cents"] or 0) <= 0:
            continue
        # ln(avg unit price dollars) & ln(total qty), exactly as the
        # oracle casts them: rev/qty both ×100 so the ratio is unit-free
        x = math.log(float(r["rev_cents"]) / float(r["qty_100"]))
        y = math.log(float(r["qty_100"]) / 100.0)
        n += 1
        sx += math.floor(1e9 * x)
        sy += math.floor(1e9 * y)
        sxy += math.floor(1e9 * (x * y))
        sxx += math.floor(1e9 * (x * x))
    if n == 0:
        # the oracle's aggregate over an empty terms CTE still emits ONE
        # row (0, NULL, NULL) — mirror it, don't return zero rows (the
        # q_cramers_v degenerate-grid lesson; newly reachable since the
        # strictly-positive month guard)
        return local_rows(
            spark,
            [(0, None, None)], "n_months bigint, elasticity double, intercept double"
        )
    df = local_rows(spark, [(n, sx, sy, sxy, sxx)], schema)
    nD = F.col("n").cast("double")
    sxD = F.col("sx").cast("double") / 1e9
    syD = F.col("sy").cast("double") / 1e9
    sxyD = F.col("sxy").cast("double") / 1e9
    sxxD = F.col("sxx").cast("double") / 1e9
    slope = (nD * sxyD - sxD * syD) / F.nullif(
        nD * sxxD - sxD * sxD, F.lit(0.0)
    )
    return df.select(
        F.col("n").alias("n_months"),
        F.round(slope, 6).alias("elasticity"),
        F.round((syD - slope * sxD) / nD, 6).alias("intercept"),
    )


#: SPRT design: H0 p=0.5 vs H1 p=0.55 on the daily purchase share of
#: (purchase + view) events; alpha = beta = 0.05 → ln((1-b)/a) bounds.
SPRT_P0 = 0.5
SPRT_P1 = 0.55


def q_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT (sequential probability-ratio test) on the event
    stream: walk the days in order accumulating the log-likelihood
    ratio for "purchase share of purchase+view events is p1 vs p0", and
    report the first boundary crossing — the always-valid sequential
    A/B machinery that lets a pipeline stop early instead of fixing n
    in advance (q_ab_test's fixed-horizon sibling).

    Parity: the only logs are CONSTANTS (ln(p1/p0) etc.) — computed
    once driver-side with math.log and inlined as literals in BOTH
    engines' plans (the oracle embeds the same Python-formatted
    literals, test-asserted in sync); each day's LLR is
    conv·C1 + (n−conv)·C2 floor-scaled ×1e9 to BIGINT, the cumulative
    sum is an exact-integer window over the day spine, and the Wald
    bounds compare as scaled BIGINTs.

    Scale: one fact aggregate to the day grain; the ordered cumulative
    window runs over the calendar-bounded spine."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("purchase", "view"))
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("conv"),
        )
    )
    return sprt_decide(daily)


def sprt_decide(daily: DataFrame) -> DataFrame:
    """The SPRT walk over a (day, n, conv) table — shared by
    :func:`q_ab_sequential` and the streaming maintainer
    (streaming/sprt.py), which folds micro-batches into exactly this
    sufficient statistic and re-derives the decision per trigger."""
    c1 = math.log(SPRT_P1 / SPRT_P0)
    c2 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
    ln_a = math.log(19.0)  # ln((1-0.05)/0.05)
    llr_s = F.floor(
        (
            F.col("conv").cast("double") * F.lit(c1)
            + (F.col("n") - F.col("conv")).cast("double") * F.lit(c2)
        )
        * 1e9
    ).cast("bigint")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    walked = daily.select(
        "day", F.sum(llr_s).over(w).alias("cum_s")
    )
    bound = int(math.floor(ln_a * 1e9))
    cross_day = F.when(
        (F.col("cum_s") >= bound) | (F.col("cum_s") <= -bound), F.col("day")
    )
    m = walked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.min(cross_day).alias("decision_day"),
        F.min_by(F.col("cum_s"), cross_day).alias("cross_s"),
        F.max_by(F.col("cum_s"), F.col("day")).alias("final_s"),
    )
    return m.select(
        "n_days",
        "decision_day",
        F.when(F.col("cross_s").isNull(), F.lit("continue"))
        .when(F.col("cross_s") >= bound, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        F.round(F.col("cross_s") / F.lit(1e9), 6).alias("llr_at_decision"),
        F.round(F.col("final_s") / F.lit(1e9), 6).alias("llr_final"),
    )


# ── round 6: distribution / trend / serving-composite keys ──


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event type: mean gap, coefficient of
    variation, and the Goh–Barabási burstiness B = (σ−μ)/(σ+μ) ∈ (−1, 1)
    over per-user event gaps — B→1 bursty, B→−1 metronomic, B≈0 Poisson.
    The stream-health diagnostic that separates bot cadence from humans.

    Gaps come from a per-(user, type) lag window (bounded partitions).
    Exact core: gap microseconds are BIGINT; squared gaps go through
    :func:`_d18` (µs gaps reach ~2.6e12, so BIGINT squares would wrap)
    into a decimal(38,0) sum.  μ, σ, and B are fixed double expressions
    over the cast moments — identical IEEE on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("g"),
    ).where(F.col("g").isNotNull())
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("g").alias("s"),
        F.sum(_d18("g") * _d18("g")).alias("sq"),
    )
    n_d = F.col("n_gaps").cast("double")
    mean = F.col("s").cast("double") / n_d
    var = F.greatest(
        F.col("sq").cast("double") / n_d - mean * mean, F.lit(0.0)
    )
    sigma = F.sqrt(var)
    return m.select(
        "event_type",
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        F.round(mean / F.lit(1000000.0), 4).alias("mean_gap_s"),
        F.round(sigma / F.nullif(mean, F.lit(0.0)), 6).alias("cv"),
        F.round(
            (sigma - mean) / F.nullif(sigma + mean, F.lit(0.0)), 6
        ).alias("burstiness"),
    )


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of daily revenue around
    its median: are above/below-median days independent, or do they
    clump (momentum) / alternate (mean reversion)?  The model-free
    "is this series random?" gate run before fitting anything fancier.

    Median-equal days are excluded (standard).  The run count comes from
    one lag window over the CALENDAR-BOUNDED day spine (~2.4k rows at
    any corpus scale); n₁, n₂, R stay exact integers and the z-score's
    μ/σ² terms are exact BIGINT products (≤ ~1.5e14 at calendar bounds)
    cast to double only in the closing expression."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    med = daily.agg(F.percentile("cents", F.lit(0.5)).alias("med"))
    signed = (
        daily.join(F.broadcast(med))
        .where(F.col("cents").cast("double") != F.col("med"))
        .select(
            "day", F.when(F.col("cents") > F.col("med"), 1).otherwise(0).alias("s")
        )
    )
    w = Window.orderBy("day")  # calendar-bounded spine, never fact rows
    runs = signed.select("s", F.lag("s").over(w).alias("prev"))
    m = runs.agg(
        F.sum("s").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).alias("n2"),
        F.sum(
            F.when(F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1)
            .otherwise(0)
        ).alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    n = n1 + n2
    mu = (F.lit(2) * n1 * n2).cast("double") / n.cast("double") + F.lit(1.0)
    var_num = (F.lit(2) * n1 * n2) * (F.lit(2) * n1 * n2 - n1 - n2)
    var_den = (n * n) * (n - F.lit(1))
    sigma = F.sqrt(var_num.cast("double") / F.nullif(var_den.cast("double"), F.lit(0.0)))
    return m.select(
        n1.cast("bigint").alias("n_above"),
        n2.cast("bigint").alias("n_below"),
        r.cast("bigint").alias("n_runs"),
        F.round(mu, 4).alias("expected_runs"),
        F.round(
            (r.cast("double") - mu) / F.nullif(sigma, F.lit(0.0)), 6
        ).alias("z"),
    )


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on monthly revenue: S = Σ sign(xⱼ−xᵢ)
    over all i<j month pairs, tie-corrected variance, and the z-verdict
    (increasing / decreasing / no_trend at |z| > 1.96) — the standard
    non-parametric "is this KPI actually trending?" monitor.  Same S
    statistic as :func:`q_kendall_tau` but against TIME with the
    tie-corrected significance test, not a cross-series correlation.

    The pair join runs on the CALENDAR-BOUNDED month spine (~80 rows →
    ~3k pairs at any corpus scale, broadcast); S, n, and the tie terms
    are exact integers, doubles only in the closing z expression."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    s_agg = (
        a.join(F.broadcast(b), F.col("a.m") < F.col("b.m"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    t = F.col("t")
    ties = (
        monthly.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(t > 1)
        .agg(F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0)).alias("tie_term"))
    )
    n_agg = monthly.agg(F.count(F.lit(1)).alias("n"))
    m = s_agg.join(F.broadcast(n_agg)).join(F.broadcast(ties))
    n, s = F.col("n"), F.col("s_stat")
    var_s = (
        (n * (n - 1) * (2 * n + 5) - F.col("tie_term")).cast("double")
        / F.lit(18.0)
    )
    sd = F.nullif(F.sqrt(var_s), F.lit(0.0))
    z = (
        F.when(s > 0, (s.cast("double") - F.lit(1.0)) / sd)
        .when(s < 0, (s.cast("double") + F.lit(1.0)) / sd)
        .otherwise(F.lit(0.0))
    )
    return m.select(
        n.cast("bigint").alias("n_months"),
        s.cast("bigint").alias("s_stat"),
        F.round(var_s, 4).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(z > 1.96, F.lit("increasing"))
        .when(z < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A = parts inside the first 80% of cumulative revenue, B to
    95%, C the tail — per class the part count, revenue, and share.
    The 80/20 workhorse behind stocking and curation priority calls.

    The cumulative window runs on the PRE-AGGREGATED part rollup
    (dimension-bounded, orders of magnitude under fact rows; the same
    posture as :func:`q_percent_rank_spend`) with a (cents desc,
    partkey) tiebreak.  Class thresholds compare exact integers —
    ``5·cum ≤ 4·total`` for 80%, ``20·cum ≤ 19·total`` for 95% — via
    :func:`_d18` products, so boundary parts can never flip class
    between engines.  100 TB switch: the VERIFIED range-partitioned
    two-phase prefix sum (:func:`operators.prefix.partitioned_prefix_sum`,
    value-identical by test) replaces the single ordered window."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    total = per_part.agg(F.sum("cents").alias("total_cents"))
    w = Window.orderBy(F.desc("cents"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_part.select(
        "cents", F.sum("cents").over(w).alias("cum_cents")
    ).join(F.broadcast(total))
    cls = (
        F.when(_d18("cum_cents") * 5 <= _d18("total_cents") * 4, "A")
        .when(_d18("cum_cents") * 20 <= _d18("total_cents") * 19, "B")
        .otherwise("C")
    )
    by_cls = cum.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("cents"),
        F.max("total_cents").alias("total_cents"),
    )
    return by_cls.select(
        "abc_class",
        F.col("n_parts").cast("bigint").alias("n_parts"),
        F.round(F.col("cents") / F.lit(100.0), 2).alias("revenue"),
        F.round(
            F.col("cents").cast("double") / F.col("total_cents").cast("double"), 6
        ).alias("share"),
    )


def q_quartile_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness of per-customer spend by market
    segment: (Q₁ + Q₃ − 2·Q₂)/(Q₃ − Q₁) — the robust skew measure that
    ignores whale outliers entirely (complementing the moment-based
    q_skew_diagnostics, which they dominate).

    Quartiles interpolate over the PRE-AGGREGATED per-customer cents
    (dimension-bounded exact percentile — the proven
    percentile↔quantile_cont parity posture); Bowley is one fixed
    double expression with a nullif-guarded IQR denominator.  100 TB
    switch: approx_percentile."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    seg = rev.join(cust, rev.o_custkey == cust.c_custkey).groupBy(
        "c_mktsegment"
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.percentile(
            "cents", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("qs"),
    )
    q1 = F.element_at("qs", 1)
    q2 = F.element_at("qs", 2)
    q3 = F.element_at("qs", 3)
    return seg.select(
        "c_mktsegment",
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.round(q1 / F.lit(100.0), 2).alias("q1"),
        F.round(q2 / F.lit(100.0), 2).alias("median"),
        F.round(q3 / F.lit(100.0), 2).alias("q3"),
        F.round(
            (q1 + q3 - F.lit(2.0) * q2) / F.nullif(q3 - q1, F.lit(0.0)), 6
        ).alias("bowley_skew"),
    )


def q_course_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving layer's course-summary assembly (A10+A11+U2+O6
    composed — ref backend/app/main.py:225-308) realized END-TO-END on
    fixtures: ``documents`` is deterministically projected into the
    LEXam shape (questions keyed by doc_id with course/area/jurisdiction
    /language derived by exact integer rules; variants as a 1-or-2-row
    expansion cycling the five configs), then fed through
    :func:`serving.dashboard.course_summary` — the SAME code path the
    serving tests drive — so the one previously pytest-only tier gets a
    DuckDB oracle row (round-5 verdict item 8).

    Derivation rules (mirrored verbatim in the oracle SQL): area =
    AREAS[len(course) mod 4] (functionally dependent on course, so the
    aggregate's ``first(area)`` is deterministic); jurisdiction =
    JURISDICTIONS[doc_id mod 3]; international = (doc_id mod 7 = 0);
    variant 1 config = CONFIGS[doc_id mod 5], split by doc_id parity;
    docs with doc_id mod 3 = 0 add an open_question/test variant, so
    the union cardinality genuinely exercises set overlap."""
    from lexam_data_pipeline_spark.serving.dashboard import (
        AREAS,
        JURISDICTIONS,
        MCQ_CONFIGS,
        course_summary,
    )

    docs = load_table(spark, sf_dir, "documents")
    areas = F.array(*[F.lit(a) for a in AREAS])
    juris = F.array(*[F.lit(j) for j in JURISDICTIONS])
    configs = F.array(*[F.lit(c) for c in (*MCQ_CONFIGS, "open_question")])
    questions = docs.select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("course"),
        F.element_at(areas, (F.length("source") % 4 + 1).cast("int")).alias("area"),
        F.element_at(juris, (F.col("doc_id") % 3 + 1).cast("int")).alias(
            "jurisdiction"
        ),
        (F.col("doc_id") % 7 == 0).alias("international"),
        F.col("lang").alias("language"),
    )
    # one documents scan for ALL variants: the 1-or-2-row expansion is
    # an exploded per-doc array, not a union of two scans
    v1 = F.struct(
        F.element_at(configs, (F.col("doc_id") % 5 + 1).cast("int")).alias(
            "config"
        ),
        F.when(F.col("doc_id") % 2 == 0, "dev").otherwise("test").alias("split"),
    )
    v2 = F.struct(
        F.lit("open_question").alias("config"), F.lit("test").alias("split")
    )
    variants = docs.select(
        F.col("doc_id").alias("question_id"),
        F.explode(
            F.when(F.col("doc_id") % 3 == 0, F.array(v1, v2)).otherwise(
                F.array(v1)
            )
        ).alias("v"),
    ).select("question_id", "v.config", "v.split")
    # questions here is corpus-sized (one row per document) — no forced
    # broadcast; the join hash-partitions on question_id at any scale
    return course_summary(questions, variants, broadcast_questions=False).select(
        "course",
        "area",
        "jurisdiction",
        "international",
        F.col("mcq_4").cast("bigint").alias("mcq_4"),
        F.col("mcq_all").cast("bigint").alias("mcq_all"),
        F.col("open_qa").cast("bigint").alias("open_qa"),
        F.col("open_dev").cast("bigint").alias("open_dev"),
        F.col("open_test").cast("bigint").alias("open_test"),
        F.col("total").cast("bigint").alias("total"),
        "language",
    )


# ─── round 7: statistics tier (rank tests, variance homogeneity) ────────────


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across ALL market segments — the k-group
    generalization of q_mannwhitney (rank-based, distribution-free
    sibling of q_anova_f), answering "does segment shift the order-value
    distribution?" without normality assumptions.

    Exact core: the doubled-average-rank posture on the value spine
    (``2·preceding + ties + 1`` — see q_mannwhitney) keeps every rank
    sum an exact integer; per-segment doubled rank sums and the tie term
    Σ(t³−t) are decimal-exact distributed aggregates.  The bounded
    k-row table then finishes on the driver in unbounded Python integer
    arithmetic (Σ⌊R²_g/n_g⌋ never wraps at ANY scale — the same
    sufficient-statistic posture as q_shannon_diversity), closed by
    mirrored double expressions and F.round in a Spark projection.

    Scale: one fact scan → (value, segment) cell aggregate; the only
    ordered window runs over the value spine (domain-bounded in cents).
    No fact-row sort, no unbounded driver state (k = #segments).

    Reference framing: the reference's stats endpoint stops at grouped
    means (backend/app/main.py accuracy rollups); this is the engine-side
    hypothesis test a segmentation analysis needs."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rows = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    per_vs = rows.groupBy("cents", "segment").agg(F.count(F.lit(1)).alias("c"))
    # NOT persisted (r11 A/B: 2.64 → 3.02 min, loss): the two driver
    # actions (rank sums + tie term) do re-run the fact scan without a
    # persist, but the (cents, segment) spine is near fact-sized here,
    # so materializing it costs more than the recompute.
    per_v = per_vs.groupBy("cents").agg(F.sum("c").alias("tot"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "cents",
        (
            2 * F.coalesce(F.sum("tot").over(w), F.lit(0)) + F.col("tot") + 1
        ).alias("r2"),
    )
    seg_agg = (
        per_vs.join(ranked, "cents")
        .groupBy("segment")
        .agg(
            F.sum("c").alias("ng"),
            F.sum(_d18("c") * _d18("r2")).alias("r2s"),
        )
    )
    # t³ via decimal(12,0) operands: precision 12·3+2 ≤ 38, exact for
    # tie groups up to 1e12 rows (same ceiling class as the other rank
    # keys; the scale probe owns it)
    d12 = F.col("tot").cast("decimal(12,0)")
    tie_agg = per_v.agg(F.sum(d12 * d12 * d12 - F.col("tot")).alias("t3t"))
    # ONE driver action instead of two: union the per-segment rank
    # sums with the 1-row tie term (NULL-marked), so both branches
    # run in a single job where AQE's runtime exchange reuse shares
    # the per_vs cell subtree — the unfused shape re-ran the fact
    # scan + cell aggregate once per action (r11 probe: 2 × ~1.7 s
    # of construct-time actions against ~0.4 s of everything else).
    # Explicit __tie marker, NOT segment-nullness (r11 ADVICE): a
    # NULL c_mktsegment group would otherwise be misread as the tie
    # row and silently dropped from `groups` — latent only (the
    # fixture has no NULL segments), but the discriminator should
    # not depend on data values.
    unioned = collect_bounded(
        seg_agg.select(
            F.lit(False).alias("__tie"),
            "segment",
            F.col("ng").cast("bigint").alias("ng"),
            F.col("r2s").cast("decimal(38,0)").alias("r2s"),
            F.lit(None).cast("decimal(38,0)").alias("t3t"),
        ).unionByName(
            tie_agg.select(
                F.lit(True).alias("__tie"),
                F.lit(None).cast("string").alias("segment"),
                F.lit(None).cast("bigint").alias("ng"),
                F.lit(None).cast("decimal(38,0)").alias("r2s"),
                F.col("t3t").cast("decimal(38,0)").alias("t3t"),
            )
        ),
        _MAX_CELL_ROWS + 1,
        "q_kruskal_wallis per-segment rank sums",
    )
    groups = [r for r in unioned if not r["__tie"]]
    tie_row = next(r for r in unioned if r["__tie"])
    if not groups:
        out = local_rows(
            spark,
            [(None, 0, None, None)],
            "n bigint, k bigint, h_stat double, h_tie_corrected double",
        )
        return out.select(
            "n", "k", F.round("h_stat", 6).alias("h_stat"),
            F.round("h_tie_corrected", 6).alias("h_tie_corrected"),
        )
    n = sum(int(g["ng"]) for g in groups)
    k = len(groups)
    t3t = int(tie_row["t3t"])
    # Σ⌊R2²_g/n_g⌋ — exact Python bigints, floored identically to the
    # oracle's HUGEINT // division
    s_h = sum((int(g["r2s"]) ** 2) // int(g["ng"]) for g in groups)
    # mirrored double closing: 12/(N(N+1))·Σ(R2²/4)/n − 3(N+1)
    h = 3.0 * float(s_h) / (float(n) * float(n + 1)) - 3.0 * float(n + 1)
    nnn = n**3 - n
    corr = 1.0 - float(t3t) / float(nnn) if nnn > 0 else None
    h_corr = h / corr if corr is not None and corr > 0.0 else None
    out = local_rows(
        spark,
        [(n, k, h, h_corr)],
        "n bigint, k bigint, h_stat double, h_tie_corrected double",
    )
    return out.select(
        "n", "k", F.round("h_stat", 6).alias("h_stat"),
        F.round("h_tie_corrected", 6).alias("h_tie_corrected"),
    )


def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED customer spend: first-era
    (≤1997) vs second-era (≥1998) total order cents per customer — the
    paired sibling of q_mannwhitney (which compares independent groups)
    and the distribution-free sibling of q_ab_test.  "Did the same
    customers spend more after the cutover?"

    Exact core: nonzero paired differences d; the |d| value spine gets
    doubled average ranks (2·preceding + ties + 1); W⁺ is the doubled
    rank sum of positive d halved ONCE at the end.  The normal
    approximation z uses the tie-corrected variance
    n(n+1)(2n+1)/24 − Σ(t³−t)/48, all terms exact decimals cast to
    double in one mirrored closing expression.

    Scale: fact scan → per-customer pair aggregate (one shuffle on the
    natural key) → |d| value-spine window (domain-bounded).  No driver
    state at all — the closing is a 1-row reduction."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.select(
            "o_custkey",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
            (F.year("o_orderdate") <= 1997).alias("is_h1"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("is_h1"), F.col("cents")).otherwise(0)).alias("h1"),
            F.sum(F.when(F.col("is_h1"), 1).otherwise(0)).alias("n1"),
            F.sum(F.when(~F.col("is_h1"), F.col("cents")).otherwise(0)).alias("h2"),
            F.sum(F.when(~F.col("is_h1"), 1).otherwise(0)).alias("n2"),
        )
    )
    diffs = (
        per_cust.where((F.col("n1") > 0) & (F.col("n2") > 0))
        .select((F.col("h2") - F.col("h1")).alias("d"))
        .where(F.col("d") != 0)
    )
    spine = diffs.groupBy(F.abs(F.col("d")).alias("ad")).agg(
        F.sum((F.col("d") > 0).cast("bigint")).alias("cpos"),
        F.sum((F.col("d") < 0).cast("bigint")).alias("cneg"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    tot = F.col("cpos") + F.col("cneg")
    ranked = spine.select(
        tot.alias("tot"),
        "cpos",
        (
            2 * F.coalesce(F.sum(tot).over(w), F.lit(0)) + tot + 1
        ).alias("r2"),
    )
    d12 = F.col("tot").cast("decimal(12,0)")
    m = ranked.agg(
        F.sum("tot").alias("n"),
        F.sum(_d18("cpos") * _d18("r2")).alias("wpos2"),
        F.sum(d12 * d12 * d12 - F.col("tot")).alias("t3t"),
    )
    nd = F.col("n").cast("decimal(12,0)")
    # exact quadruple numerator 2·W⁺₂ − n(n+1); exact variance operands
    num4 = 2 * F.col("wpos2") - nd * (nd + 1)
    var24 = nd * (nd + 1) * (2 * nd + 1)
    var = var24.cast("double") / F.lit(24.0) - F.col("t3t").cast(
        "double"
    ) / F.lit(48.0)
    return m.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        (F.col("wpos2").cast("double") / F.lit(2.0)).alias("w_plus"),
        F.round(
            F.when(
                var > 0,
                (num4.cast("double") / F.lit(4.0)) / F.sqrt(var),
            ),
            6,
        ).alias("z_stat"),
    )


def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe homogeneity-of-variance test (Levene with median
    centers) of order value across market segments — the gatekeeper
    q_anova_f needs (ANOVA assumes equal group variances; this tests
    that assumption robustly).

    Exact core: per-segment MEDIANS come off the (segment, value) spine
    by cumulative-count crossing (doubled median = lower + upper central
    element — exact integers, NO per-group sort buffer and no
    percentile driver state, unlike a naive ``percentile`` call that
    buffers each group).  Median-centered deviations z = |2·cents − m2|
    are exact integers per fact row; the closing one-way-ANOVA-on-z
    statistic reuses q_anova_f's floor-scaled moment posture verbatim.

    Scale: spine aggregate + per-segment window over the spine for the
    medians; one more fact-side scan for the z moments (broadcast join
    of the k-row median table).  Both exchanges are parallel; nothing
    buffers a group in memory."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rows = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    vs = rows.groupBy("segment", "cents").agg(F.count(F.lit(1)).alias("c"))
    totals = vs.groupBy("segment").agg(F.sum("c").alias("ng"))
    wseg = (
        Window.partitionBy("segment")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vs.withColumn("cum", F.sum("c").over(wseg)).join(
        F.broadcast(totals), "segment"
    )
    lo = F.expr("(ng + 1) div 2")
    hi = F.expr("(ng + 2) div 2")
    meds = cum.groupBy("segment").agg(
        (
            F.min(F.when(F.col("cum") >= lo, F.col("cents")))
            + F.min(F.when(F.col("cum") >= hi, F.col("cents")))
        ).alias("m2")
    )
    z = rows.join(F.broadcast(meds), "segment").select(
        "segment", F.abs(2 * F.col("cents") - F.col("m2")).alias("z2")
    )
    groups = z.groupBy("segment").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("z2").alias("sg"),
        F.sum(_d18("z2") * _d18("z2")).alias("qg"),
    )
    tot = groups.agg(
        F.sum("ng").alias("n"), F.sum("sg").alias("s"), F.count(F.lit(1)).alias("k")
    )
    gmean = F.col("s").cast("double") / F.col("n").cast("double")
    mean_g = F.col("sg").cast("double") / F.col("ng").cast("double")
    scaled = groups.join(F.broadcast(tot)).select(
        "n",
        "k",
        F.floor(
            F.col("ng").cast("double")
            * (mean_g - gmean)
            * (mean_g - gmean)
            / F.lit(100.0)
        )
        .cast("bigint")
        .alias("ssb_s"),
        F.floor(
            (
                F.col("qg").cast("double")
                - F.col("sg").cast("double")
                * F.col("sg").cast("double")
                / F.col("ng").cast("double")
            )
            / F.lit(100.0)
        )
        .cast("bigint")
        .alias("ssw_s"),
    )
    m = scaled.groupBy("n", "k").agg(
        F.sum("ssb_s").alias("ssb"), F.sum("ssw_s").alias("ssw")
    )
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(
            (
                F.col("ssb").cast("double")
                / F.nullif((F.col("k") - 1).cast("double"), F.lit(0.0))
            )
            / F.nullif(
                F.col("ssw").cast("double")
                / F.nullif((F.col("n") - F.col("k")).cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("w_stat"),
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus rank–frequency curve: OLS slope
    of ln(freq) on ln(rank) over the top-100 words — the classic "is
    this corpus natural language or machine junk?" diagnostic (natural
    text slopes ≈ −1; templated/generated text is much flatter or
    steeper).  Complements the per-document signals (q_repetition_stats,
    q_lexical_rarity) with a corpus-level law.

    Engine-exact despite ln: the top-100 (word, freq) table is BOUNDED,
    so the fit finishes on the driver — each regression term is floored
    to a scaled BIGINT (⌊ln(·)·1e6⌋; driver math.log == DuckDB ln, the
    ml/nb.py libm argument), summed as exact Python integers
    (order-independent), and closed by one mirrored double ratio.

    Scale: one distributed word count, a top-k (TakeOrdered — no global
    sort), a 100-row collect.  Nothing else touches the driver."""
    from lexam_data_pipeline_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(tokens("text")).alias("term")
    ).where(F.col("term") != "")
    top = (
        words.groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.desc("f"), F.asc("term"))
        .limit(100)
        .collect()
    )
    schema = "n_terms bigint, zipf_slope double, fit_r2 double"
    if not top:
        out = local_rows(spark, [(0, None, None)], schema)
        return out.select(
            "n_terms",
            F.round("zipf_slope", 6).alias("zipf_slope"),
            F.round("fit_r2", 6).alias("fit_r2"),
        )
    ranked = sorted(((int(r["f"]), r["term"]) for r in top), key=lambda t: (-t[0], t[1]))
    n = len(ranked)
    sx = sy = sxy = sxx = syy = 0
    for i, (f, _term) in enumerate(ranked):
        x = math.floor(math.log(i + 1) * 1000000.0)
        y = math.floor(math.log(f) * 1000000.0)
        sx += x
        sy += y
        sxy += x * y
        sxx += x * x
        syy += y * y
    den = n * sxx - sx * sx
    deny = n * syy - sy * sy
    num = n * sxy - sx * sy
    slope = float(num) / float(den) if den != 0 else None
    r2 = (
        float(num) * float(num) / (float(den) * float(deny))
        if den != 0 and deny != 0
        else None
    )
    out = local_rows(spark, [(n, slope, r2)], schema)
    return out.select(
        "n_terms",
        F.round("zipf_slope", 6).alias("zipf_slope"),
        F.round("fit_r2", 6).alias("fit_r2"),
    )


def q_confusion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class confusion report (support / tp / fp / fn, precision,
    recall, F1) of the marker-voting language classifier against ground
    truth — the multi-class evaluation every trained curation filter
    ships with (q_judge_agreement reduces the same classifier to one
    binary kappa; this keeps the full per-class picture).

    Every metric is a SINGLE division of exact integer counts from ONE
    bounded (truth, predicted) cell aggregate — no float summation, so
    it is engine-exact with no libm anywhere.

    Scale: one corpus scan → langs×(langs+1) cell table; everything
    after runs on the bounded cells."""
    from lexam_data_pipeline_spark.ml.textstats import q_lang_id

    scored = (
        q_lang_id(spark, sf_dir)
        .where(F.col("lang").isNotNull())
        .select("lang", "predicted_lang")
    )
    cells = scored.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    truth = cells.groupBy("lang").agg(
        F.sum("c").alias("support"),
        F.sum(
            F.when(F.col("predicted_lang") == F.col("lang"), F.col("c")).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(F.col("predicted_lang") != F.col("lang"), F.col("c")).otherwise(0)
        ).alias("fn"),
    )
    pred_side = (
        cells.where(F.col("predicted_lang") != F.col("lang"))
        .groupBy("predicted_lang")
        .agg(F.sum("c").alias("fp"))
    )
    rep = truth.join(
        pred_side, truth["lang"] == pred_side["predicted_lang"], "left"
    ).select(
        F.col("lang").alias("class"),
        "support",
        "tp",
        F.coalesce(F.col("fp"), F.lit(0)).alias("fp"),
        "fn",
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return rep.select(
        "class",
        F.col("support").cast("bigint").alias("support"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        F.round(F.when(tp + fp > 0, tp / (tp + fp)), 6).alias("precision"),
        F.round(F.when(tp + fn > 0, tp / (tp + fn)), 6).alias("recall"),
        F.round(F.when(2 * tp + fp + fn > 0, 2 * tp / (2 * tp + fp + fn)), 6).alias(
            "f1"
        ),
    ).orderBy("class")


def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: does the marker-voting language classifier
    beat the majority-class baseline ON THE SAME documents?  The correct
    test when two models are evaluated on one dataset (q_ab_test's
    two-proportion z assumes independent samples and is wrong here);
    only the DISAGREEMENT cells b (only classifier right) and c (only
    baseline right) carry signal.

    χ² = (b−c)²/(b+c) with Edwards' continuity-corrected twin — exact
    integer counts, single final divisions, engine-exact.  The baseline
    predicts the corpus-majority language (deterministic count-desc,
    lang-asc tie-break), computed distributed and broadcast back.

    Scale: one corpus scan for the mode, one for the pair flags; both
    1-row/k-row reductions."""
    from lexam_data_pipeline_spark.ml.textstats import q_lang_id

    scored = (
        q_lang_id(spark, sf_dir)
        .where(F.col("lang").isNotNull())
        .select("lang", "predicted_lang")
    )
    mode = (
        scored.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("mc"))
        .orderBy(F.desc("mc"), F.asc("lang"))
        .limit(1)
        .select(F.col("lang").alias("mode_lang"))
    )
    flagged = scored.join(F.broadcast(mode)).select(
        (F.col("predicted_lang") == F.col("lang")).alias("a_ok"),
        (F.col("lang") == F.col("mode_lang")).alias("b_ok"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("a_ok") & ~F.col("b_ok")).cast("bigint")).alias("b"),
        F.sum((~F.col("a_ok") & F.col("b_ok")).cast("bigint")).alias("c"),
    )
    b, c = F.col("b"), F.col("c")
    disc = (b - c).cast("double")
    tot = (b + c).cast("double")
    cc = (F.abs(b - c) - 1).cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        b.cast("bigint").alias("b_only_classifier"),
        c.cast("bigint").alias("c_only_baseline"),
        F.round(F.when(b + c > 0, disc * disc / tot), 6).alias("chi2_mcnemar"),
        F.round(F.when(b + c > 0, cc * cc / tot), 6).alias("chi2_continuity"),
    )


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding CENTROIDS
    — the class-separation / drift monitor an embedding pipeline runs
    after every re-embed (centroids collapsing toward each other = the
    embedding stopped separating classes; a centroid moving between
    snapshots = representation drift).

    Engine-exact floats: components are quantized ⌊val·1e6⌋ BIGINT per
    row FIRST, so the per-(label, dimension) sums are exact integers —
    cross-engine float summation (order-dependent) never happens.
    Cosine over the integer sum vectors equals cosine over the
    (unnormalized) quantized centroids because the 1/n scale cancels;
    dot and norm products use decimal(18,0) operands (exact under the
    38-digit cap).

    Scale: one scan → posexplode → (label, dim) sum — shuffle width
    k·d rows, not corpus size; the pairwise join runs on that bounded
    table.  The final divisions are mirrored doubles."""
    from lexam_data_pipeline_spark.functions.embeddings import (
        label_dim_sums,
        quantized_components,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    comp = quantized_components(emb, with_vec_id=False)
    sums = label_dim_sums(comp, with_counts=False)
    norms = sums.groupBy("label").agg(
        F.sum(_d18("s") * _d18("s")).alias("n2")
    )
    a = sums.select(
        F.col("label").alias("label_a"), "pos", F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("label").alias("label_b"), "pos", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(_d18("sa") * _d18("sb")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("n2b"))
    out = dots.join(F.broadcast(na), "label_a").join(F.broadcast(nb), "label_b")
    den = F.sqrt(F.col("n2a").cast("double")) * F.sqrt(
        F.col("n2b").cast("double")
    )
    return out.select(
        F.col("label_a").cast("int").alias("label_a"),
        F.col("label_b").cast("int").alias("label_b"),
        F.round(
            F.when(den > 0, F.col("dot").cast("double") / den), 6
        ).alias("centroid_cosine"),
    ).orderBy("label_a", "label_b")


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: per-source (tokens N,
    distinct vocabulary V) points, OLS of ln V on ln N → the Heaps
    exponent β (natural corpora: β ≈ 0.4–0.6; templated/duplicated
    corpora much lower).  The corpus-growth sibling of q_zipf_fit's
    rank–frequency law — together they are the two classic "is this
    corpus natural?" power laws.

    Same engine-exact posture as q_zipf_fit: the per-source point table
    is bounded (|sources|), so the fit finishes on the driver with
    ⌊ln(·)·1e6⌋ BIGINT terms (driver math.log == DuckDB ln) summed as
    exact Python integers, closed by mirrored double ratios.

    Scale: one tokenize scan → per-source (count, count distinct)
    aggregate; sources with zero tokens simply contribute no point (both
    engines).  The collect is |sources| rows."""
    from lexam_data_pipeline_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    pts = collect_bounded(
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("term").alias("v"),
        ),
        _MAX_CELL_ROWS,
        "q_heaps_law per-source vocabulary points",
    )
    schema = "n_sources bigint, heaps_beta double, fit_r2 double"
    if not pts:
        out = local_rows(spark, [(0, None, None)], schema)
        return out.select(
            "n_sources",
            F.round("heaps_beta", 6).alias("heaps_beta"),
            F.round("fit_r2", 6).alias("fit_r2"),
        )
    n = len(pts)
    sx = sy = sxy = sxx = syy = 0
    for r in pts:
        x = math.floor(math.log(r["n_tokens"]) * 1000000.0)
        y = math.floor(math.log(r["v"]) * 1000000.0)
        sx += x
        sy += y
        sxy += x * y
        sxx += x * x
        syy += y * y
    den = n * sxx - sx * sx
    deny = n * syy - sy * sy
    num = n * sxy - sx * sy
    beta = float(num) / float(den) if den != 0 else None
    r2 = (
        float(num) * float(num) / (float(den) * float(deny))
        if den != 0 and deny != 0
        else None
    )
    out = local_rows(spark, [(n, beta, r2)], schema)
    return out.select(
        "n_sources",
        F.round("heaps_beta", 6).alias("heaps_beta"),
        F.round("fit_r2", 6).alias("fit_r2"),
    )


def q_cochrans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across THREE classifiers evaluated on the same
    documents — do the marker-voting lang-id, the global-majority
    baseline, and the per-source-majority baseline have the same error
    rate?  The k-classifier generalization of q_mcnemar_test (k = 2),
    and the gate before pairwise McNemar post-hocs.

    Exact core: per-document success indicators are 0/1; Q =
    (k−1)(k·ΣC²ⱼ − (ΣCⱼ)²) / (k·ΣRᵢ − ΣR²ᵢ) needs only the three
    per-classifier success totals and Σ of squared per-document row
    sums — ONE aggregate over the flag scan, every term an exact
    integer (decimal-squared for 100 TB counts), one closing division.

    Scale: one corpus scan for the source-prior mode table (k-row,
    broadcast back), one for the flags; the closing is a 1-row
    reduction."""
    from lexam_data_pipeline_spark.ml.textstats import q_lang_id

    scored = (
        q_lang_id(spark, sf_dir)
        .where(F.col("lang").isNotNull())
        .select("doc_id", "lang", "predicted_lang")
    )
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull()
    )
    base = scored.join(
        docs.select("doc_id", "source"), "doc_id"
    )
    mode = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("mc"))
        .orderBy(F.desc("mc"), F.asc("lang"))
        .limit(1)
        .select(F.col("lang").alias("mode_lang"))
    )
    wsrc = Window.partitionBy("source").orderBy(F.desc("sc"), F.asc("lang"))
    src_mode = (
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("sc"))
        .withColumn("rn", F.row_number().over(wsrc))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("source_prior"))
    )
    flags = (
        base.join(F.broadcast(mode))
        .join(F.broadcast(src_mode), "source")
        .select(
            (F.col("predicted_lang") == F.col("lang")).cast("bigint").alias("xa"),
            (F.col("mode_lang") == F.col("lang")).cast("bigint").alias("xb"),
            (F.col("source_prior") == F.col("lang")).cast("bigint").alias("xc"),
        )
    )
    ri = F.col("xa") + F.col("xb") + F.col("xc")
    agg = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("ca"),
        F.sum("xb").alias("cb"),
        F.sum("xc").alias("cc"),
        F.sum(ri).alias("sr"),
        F.sum(ri * ri).alias("sr2"),
    )
    num = 2 * (
        3 * (_d18("ca") * _d18("ca") + _d18("cb") * _d18("cb") + _d18("cc") * _d18("cc"))
        - _d18("sr") * _d18("sr")
    )
    den = (3 * F.col("sr") - F.col("sr2")).cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("ca").cast("bigint").alias("c_langid"),
        F.col("cb").cast("bigint").alias("c_majority"),
        F.col("cc").cast("bigint").alias("c_source_prior"),
        F.round(
            F.when(den > 0, num.cast("double") / den), 6
        ).alias("q_stat"),
    )


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier audit: how many vectors sit more than
    2× the label's mean squared centroid distance from their OWN label
    centroid?  The standard mislabel / contamination detector an
    embedding pipeline runs before training on labeled vectors
    (q_embedding_drift watches BETWEEN-label geometry; this watches
    WITHIN-label cohesion).

    Engine-exact with zero float summation: quantized components
    ⌊val·1e6⌋ make the centroid sums S exact integers, the per-row
    scaled squared distance Σ_d (n·q_d − S_d)² an exact decimal (the
    1/n centroid scale is cleared by cross-multiplication), and the
    2×-mean flag the exact integer comparison n_label·dist² >
    4·Σdist².  Only the reported share divides.

    Scale: posexplode → (label,dim) sums (k·d rows) broadcast back to
    one component scan; per-row distances reduce in the same pass.
    Decimal(38) headroom note: n·q_d ≤ 1e18 keeps every product exact
    through ~1e11 rows/label; past that, drop the quantization scale —
    the probe owns the ceiling (SCALE.md)."""
    from lexam_data_pipeline_spark.functions.embeddings import (
        label_dim_sums,
        quantized_components,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    comp = quantized_components(emb)
    sums = label_dim_sums(comp)
    term = _d18("nl") * _d18("qv") - _d18("s")
    dists = (
        comp.join(F.broadcast(sums), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(term * term).alias("d2"))
    )
    per_label = dists.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("d2").alias("tot")
    )
    scaled_d2 = F.col("d2") * F.col("n_vecs").cast("decimal(12,0)")
    flagged = dists.join(F.broadcast(per_label), "label").select(
        "label",
        "n_vecs",
        "tot",
        (scaled_d2 > 4 * F.col("tot")).cast("bigint").alias("is_out"),
        scaled_d2.alias("sd2"),
    )
    return (
        flagged.groupBy("label", "n_vecs", "tot")
        .agg(F.sum("is_out").alias("n_outliers"), F.max("sd2").alias("max_sd2"))
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
            F.round(F.col("n_outliers") / F.col("n_vecs"), 6).alias(
                "outlier_share"
            ),
            # worst vector's distance² as a multiple of the label mean —
            # the discriminating signal even when no vector trips 2×
            # (exact ints until this one mirrored division)
            F.round(
                F.col("max_sd2").cast("double")
                / F.nullif(F.col("tot").cast("double"), F.lit(0.0)),
                6,
            ).alias("max_ratio"),
        )
        .orderBy("label")
    )


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the BUILDING and
    MACHINERY order-value distributions — the parametric sibling of
    q_mannwhitney on the same two-sample spine (reference experiment
    comparisons stop at accuracy deltas; this is the significance test a
    curation A/B needs when the metric is a mean).

    Exact core: the three moments per group (n, Σx, Σx²) accumulate as
    exact decimals (operands cast to decimal(12,0) BEFORE the triple
    product — c·cents² reaches ~3.6e28 at 100 TB row counts, far past
    BIGINT, still inside decimal(38)).  Means, variances, t, and the
    Welch–Satterthwaite df are one mirrored block of double expressions.

    Scale: same posture as q_mannwhitney — one fact scan, value-level
    spine, 1-row reduction.  No window needed at all."""
    spine = _two_sample_value_spine(spark, sf_dir)
    dx = F.col("cents").cast("decimal(12,0)")
    m = spine.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(_d12("c1") * dx).alias("s1"),
        F.sum(_d12("c2") * dx).alias("s2"),
        F.sum(_d12("c1") * dx * dx).alias("ss1"),
        F.sum(_d12("c2") * dx * dx).alias("ss2"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    ss1, ss2 = F.col("ss1").cast("double"), F.col("ss2").cast("double")
    m1, m2 = s1 / n1, s2 / n2
    v1 = (ss1 - s1 * s1 / n1) / (n1 - 1.0)
    v2 = (ss2 - s2 * s2 / n2) / (n2 - 1.0)
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / F.sqrt(se2)
    df = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - 1.0) + (v2 / n2) * (v2 / n2) / (n2 - 1.0)
    )
    ok = (F.col("n1") > 1) & (F.col("n2") > 1)
    return m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(m1 / 100.0, 4).alias("mean_a"),
        F.round(m2 / 100.0, 4).alias("mean_b"),
        F.round(F.when(ok & (se2 > 0), t), 6).alias("t_stat"),
        F.round(F.when(ok & (se2 > 0), df), 4).alias("df_welch"),
    )


def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between the same two segments:
    δ = (#(x>y) − #(x<y)) / (n1·n2) — the assumption-free effect size
    reported alongside q_mannwhitney's U (δ = 2·AUC − 1 only when there
    are no ties; this computes the tie-aware value directly).

    Exact core: on the value spine ordered by cents, Σ c1·cum2(<) counts
    the greater pairs and n1·n2 − Σ c1·cum2(≤) the lesser pairs, all in
    exact decimals (c1·cum2 reaches ~1e26 at 100 TB pooled counts).
    One running-sum window over the spine, one 1-row reduction, one
    closing division."""
    spine = _two_sample_value_spine(spark, sf_dir)
    we = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    wi = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = spine.select(
        "c1",
        "c2",
        F.coalesce(F.sum("c2").over(we), F.lit(0)).alias("cum2e"),
        F.sum("c2").over(wi).alias("cum2i"),
    )
    # n2 folds into the SAME 1-row aggregate (carrying c2 through the
    # window projection) — a second spine build would rescan the fact
    # table (review finding)
    m = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(_d18("c1") * _d18("cum2e")).alias("se"),
        F.sum(_d18("c1") * _d18("cum2i")).alias("si"),
    )
    # gt − lt = se − (n1·n2 − si) = se + si − n1·n2, all exact decimal
    num = (
        F.col("se")
        + F.col("si")
        - F.col("n1").cast("decimal(18,0)") * F.col("n2").cast("decimal(18,0)")
    )
    n1n2 = F.col("n1").cast("double") * F.col("n2").cast("double")
    return m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(
            num.cast("double") / F.nullif(n1n2, F.lit(0.0)), 6
        ).alias("cliffs_delta"),
    )


def q_hellinger_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between the two segments' order-value
    HISTOGRAMS ($5,000 buckets) — the bounded [0,1] distribution-shift
    score used to compare data sources before mixing (the metric
    sibling of q_js_divergence: Hellinger is a true metric, JSD is not).

    Exact core: per-bucket Bhattacharyya terms are ⌊√(c1·c2)·1e3⌋
    BIGINTs (the product is an exact decimal first; IEEE sqrt is
    correctly rounded, so the floor is engine-exact) — integer sums are
    order-independent; BC and H close in two mirrored double ops.

    Scale: one fact scan → bucket table bounded by the value domain
    (cents div 500000); everything after is bucket-bounded."""
    spine = _two_sample_value_spine(spark, sf_dir)
    buckets = (
        spine.groupBy(F.expr("cents div 500000").alias("bucket"))
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    )
    bcq = F.floor(
        F.sqrt((_d18("c1") * _d18("c2")).cast("double")) * F.lit(1000.0)
    )
    m = buckets.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(bcq).alias("bcq"),
    )
    bc = (
        F.col("bcq").cast("double")
        / 1000.0
        / F.sqrt(F.col("n1").cast("double") * F.col("n2").cast("double"))
    )
    return m.select(
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        F.round(bc, 6).alias("bhattacharyya"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), 1.0 - bc)), 6).alias(
            "hellinger"
        ),
    )


def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: do the five market segments keep the same
    revenue ORDERING month after month?  Blocks = months with all k
    segments present, treatments = segments, ranked within each block —
    the k-sample repeated-measures sibling of q_kruskal_wallis (which
    ignores blocking) and the rank analogue of q_cochrans_q (which needs
    binary outcomes).

    Exact core: within each month the doubled average rank of a cell is
    2p + c + 1 from two RANGE-frame window counts over the k-row block
    (p = strictly-smaller cells, c = tie-group size) — exact integers
    under ties.  Q = 3·ΣR2ⱼ²/(n·k·(k+1)) − 3·n·(k+1) closes from the
    k-row doubled-rank-sum table (ΣR2² as exact decimal).

    Scale: one fact scan → (month × segment) cell table (calendar- and
    domain-bounded); all windows and joins run on cells."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cells = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.date_format(
                F.date_trunc("month", "o_orderdate"), "yyyy-MM"
            ).alias("month"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    k_w = Window.partitionBy("month")
    full = cells.withColumn("k_in_block", F.count(F.lit(1)).over(k_w))
    # NOT persisted (r11 A/B: wash, 1.69/1.74 min — the cell table is
    # calendar-bounded, so the kcount action's recompute costs about
    # what the persist materialization does)
    kcount = full.agg(F.max("k_in_block").alias("k")).collect()[0]["k"]
    blocks = full.where(F.col("k_in_block") == F.lit(kcount))
    wp = (
        Window.partitionBy("month")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    wc = Window.partitionBy("month").orderBy("cents").rangeBetween(0, 0)
    ranked = blocks.select(
        "month",
        "seg",
        (
            2 * F.coalesce(F.count(F.lit(1)).over(wp), F.lit(0))
            + F.count(F.lit(1)).over(wc)
            + 1
        ).alias("r2"),
    )
    per_seg = ranked.groupBy("seg").agg(
        F.sum("r2").alias("r2j"), F.count(F.lit(1)).alias("n_blocks")
    )
    m = per_seg.agg(
        F.max("n_blocks").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(_d18("r2j") * _d18("r2j")).alias("sr2"),
    )
    n, k = F.col("n").cast("double"), F.col("k").cast("double")
    q = 3.0 * F.col("sr2").cast("double") / (n * k * (k + 1.0)) - 3.0 * n * (
        k + 1.0
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.col("k").cast("bigint").alias("k"),
        F.round(F.when((F.col("n") > 0) & (F.col("k") > 1), q), 6).alias(
            "q_stat"
        ),
    )


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across the THREE language raters of q_cochrans_q
    (marker-voting lang-id, global-majority, per-source-majority), over
    the full language category set — the multi-rater generalization of
    q_judge_agreement's Cohen kappa (2 raters, binary) and the
    agreement-strength companion to q_cochrans_q (which only tests
    equality of error rates).

    Exact core: with k=3 ratings per item, κ = [3N(S₂−3N) − 2ΣC²] /
    [2(9N² − ΣC²)] where S₂ = ΣᵢΣ꜀ n²ᵢ꜀ and C꜀ are category totals —
    every term an exact decimal (N² passes BIGINT at ~3e9 items), one
    closing division.

    Scale: the rating table is 3 rows per document (explode of a 3-array
    — no extra scan); n₍ᵢ꜀₎ aggregates by (doc, category), C꜀ by
    category (bounded cells)."""
    from lexam_data_pipeline_spark.ml.textstats import q_lang_id

    scored = (
        q_lang_id(spark, sf_dir)
        .where(F.col("lang").isNotNull())
        .select("doc_id", "lang", "predicted_lang")
    )
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull()
    )
    base = scored.join(docs.select("doc_id", "source"), "doc_id")
    mode = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("mc"))
        .orderBy(F.desc("mc"), F.asc("lang"))
        .limit(1)
        .select(F.col("lang").alias("mode_lang"))
    )
    wsrc = Window.partitionBy("source").orderBy(F.desc("sc"), F.asc("lang"))
    src_mode = (
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("sc"))
        .withColumn("rn", F.row_number().over(wsrc))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("source_prior"))
    )
    ratings = (
        base.join(F.broadcast(mode))
        .join(F.broadcast(src_mode), "source")
        .select(
            "doc_id",
            F.explode(
                F.array("predicted_lang", "mode_lang", "source_prior")
            ).alias("cat"),
        )
    )
    nic = ratings.groupBy("doc_id", "cat").agg(F.count(F.lit(1)).alias("nic"))
    item = nic.agg(
        F.countDistinct("doc_id").alias("n_items"),
        F.sum(_d18("nic") * _d18("nic")).alias("s2"),
    )
    cc = nic.groupBy("cat").agg(F.sum("nic").alias("c"))
    cat = cc.agg(F.sum(_d18("c") * _d18("c")).alias("sc2"))
    m = item.join(F.broadcast(cat))
    dn = F.col("n_items").cast("decimal(18,0)")
    num = 3 * dn * (F.col("s2") - 3 * dn) - 2 * F.col("sc2")
    den = 2 * (9 * dn * dn - F.col("sc2"))
    p_bar = (F.col("s2") - 3 * dn).cast("double") / (
        6.0 * F.col("n_items").cast("double")
    )
    p_e = F.col("sc2").cast("double") / (
        9.0 * F.col("n_items").cast("double") * F.col("n_items").cast("double")
    )
    return m.select(
        F.col("n_items").cast("bigint").alias("n_items"),
        F.lit(3).cast("int").alias("k_raters"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round(
            F.when(
                den.cast("double") != 0.0, num.cast("double") / den.cast("double")
            ),
            6,
        ).alias("fleiss_kappa"),
    )


def q_silhouette_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per embedding label:
    s = (b − a)/max(a, b) with a = distance to the OWN label centroid
    and b = the nearest OTHER centroid — the O(n·k) clustering-quality
    audit (full silhouette is O(n²) — wrong at 100 TB by construction).
    Completes the embedding-geometry trio: q_embedding_drift (between-
    label), q_embedding_outliers (within-label), silhouette (both).

    Engine-exact: distances to label l clear the 1/nₗ centroid scale by
    the (nₗ·q − Sₗ)² cross-multiplication (exact decimal), then
    D = √d2/nₗ — IEEE sqrt is correctly rounded, so D, the per-vector
    score, and its ⌊s·1e6⌋ quantization are bit-identical across
    engines; per-label sums are integer-exact in any order.  The common
    1e6 component-quantization scale cancels inside s.

    Scale: the (label,dim) sum table (k·d rows) broadcasts back onto the
    component scan with a k-way fan-out — the declared cost of
    simplified silhouette (n·k·d work, no shuffle growth)."""
    from lexam_data_pipeline_spark.functions.embeddings import (
        label_dim_sums,
        quantized_components,
    )

    emb = load_table(spark, sf_dir, "embeddings", fan=True)
    comp = quantized_components(emb, require_label=True).withColumnRenamed(
        "label", "own_label"
    )
    sums = label_dim_sums(
        comp.withColumnRenamed("own_label", "label")
    ).withColumnRenamed("label", "c_label")
    term = _d18("nl") * _d18("qv") - _d18("s")
    d2 = (
        comp.join(F.broadcast(sums), "pos")
        .groupBy("vec_id", "own_label", "c_label")
        .agg(F.sum(term * term).alias("d2"), F.max("nl").alias("nl"))
    )
    dist = F.sqrt(F.col("d2").cast("double")) / F.col("nl").cast("double")
    per_vec = d2.groupBy("vec_id", "own_label").agg(
        F.max(F.when(F.col("c_label") == F.col("own_label"), dist)).alias("a"),
        F.min(F.when(F.col("c_label") != F.col("own_label"), dist)).alias("b"),
    )
    s = F.when(
        F.col("b").isNotNull() & (F.greatest("a", "b") > 0.0),
        (F.col("b") - F.col("a")) / F.greatest("a", "b"),
    ).otherwise(F.lit(0.0))
    scored = per_vec.select(
        "own_label", F.floor(s * F.lit(1000000.0)).cast("bigint").alias("sq")
    )
    return (
        scored.groupBy("own_label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("sq").alias("ssq"))
        .select(
            F.col("own_label").cast("int").alias("label"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.round(
                F.col("ssq").cast("double")
                / (F.col("n_vecs").cast("double") * 1000000.0),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin index over the embedding labels: DB = mean over
    clusters of max_{j≠i} (σᵢ + σⱼ)/d(cᵢ,cⱼ) — the single-number
    clustering-validity score (lower = tighter, better separated),
    closing the audit set next to q_silhouette_labels (per-cluster) and
    q_embedding_drift (pairwise geometry).

    Engine-exact: per-vector √d2 quantizes to BIGINT before the scatter
    sums (σᵢ = ΣQᵢ/nᵢ²·1e6); centroid separations clear both 1/n scales
    by the (nⱼ·Sᵢ − nᵢ·Sⱼ)² cross-multiplication; the shared 1e6 scale
    cancels inside Rᵢⱼ, which quantizes again before the k-row max/mean
    so no float sum ever depends on order.

    Scale: scatter is the same component-scan reduce as
    q_embedding_outliers; separations live on the (label,dim) sum table
    (k²·d bounded pair join)."""
    from lexam_data_pipeline_spark.functions.embeddings import (
        label_dim_sums,
        quantized_components,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    comp = quantized_components(emb, require_label=True)
    sums = label_dim_sums(comp)
    term = _d18("nl") * _d18("qv") - _d18("s")
    d2 = (
        comp.join(F.broadcast(sums), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(term * term).alias("d2"))
    )
    scatter = d2.select(
        "label", F.floor(F.sqrt(F.col("d2").cast("double"))).alias("qs")
    ).groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("qs").alias("q")
    )
    a = sums.select(
        F.col("label").alias("la"), "pos", F.col("s").alias("sa"),
        F.col("nl").alias("na"),
    )
    b = sums.select(
        F.col("label").alias("lb"), "pos", F.col("s").alias("sb"),
        F.col("nl").alias("nb"),
    )
    sep_term = _d18("nb") * F.col("sa").cast("decimal(18,0)") - _d18(
        "na"
    ) * F.col("sb").cast("decimal(18,0)")
    seps = (
        a.join(b, "pos")
        .where(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(sep_term * sep_term).alias("m"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    sa = scatter.select(
        F.col("label").alias("la"), F.col("n").alias("n_a"), F.col("q").alias("q_a")
    )
    sb = scatter.select(
        F.col("label").alias("lb"), F.col("n").alias("n_b"), F.col("q").alias("q_b")
    )
    paired = seps.join(F.broadcast(sa), "la").join(F.broadcast(sb), "lb")
    sig_a = F.col("q_a").cast("double") / (
        F.col("n_a").cast("double") * F.col("n_a").cast("double")
    )
    sig_b = F.col("q_b").cast("double") / (
        F.col("n_b").cast("double") * F.col("n_b").cast("double")
    )
    r = (
        (sig_a + sig_b)
        * F.col("na").cast("double")
        * F.col("nb").cast("double")
        / F.sqrt(F.col("m").cast("double"))
    )
    rq = paired.select(
        "la", F.floor(r * F.lit(1000000.0)).cast("bigint").alias("rq")
    )
    per_label = rq.groupBy("la").agg(F.max("rq").alias("max_rq"))
    m = per_label.agg(
        F.count(F.lit(1)).alias("k"), F.sum("max_rq").alias("srq")
    )
    return m.select(
        F.col("k").cast("bigint").alias("k"),
        F.round(
            F.col("srq").cast("double")
            / (F.col("k").cast("double") * 1000000.0),
            6,
        ).alias("db_index"),
    )


def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 per nation for the q_ndcg_eval ranking (top customers by
    account balance): reciprocal rank of the first customer who placed
    an URGENT-priority order — the first-hit retrieval metric reported
    next to NDCG (which grades the whole list).

    Exact: ranks are integers; 1/rank is one exact double division per
    nation (rank ≤ 10 — all reciprocals exact in binary? no — but both
    engines perform the identical single division).  Nations with no
    relevant customer in the top 10 score 0 by convention.

    Scale: the K·|nations| top-K table broadcasts INTO the one fact
    scan (orders filtered to URGENT), so relevance never materializes a
    per-customer table; the rollup is |nations| rows."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    topk = (
        customer.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= NDCG_K)
        .select("c_nationkey", "c_custkey", "rank")
    )
    hits = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .join(F.broadcast(topk), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.min("rank").alias("first_rank"))
    )
    return (
        nation.join(
            hits, nation.n_nationkey == hits.c_nationkey, "left"
        )
        .select(
            "n_name",
            F.col("first_rank").cast("int").alias("first_rank"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("first_rank").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("reciprocal_rank"),
        )
        .orderBy("n_name")
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source with a deterministic syllable
    proxy (vowel-run count, floored at the document level: per-doc
    syllables ≥ per-doc words — see functions/text.py) — the classic
    quality-scoring signal a curation pipeline buckets sources by
    (SURVEY text-analysis tier; the reference computes no text metrics).

    Exact core: words (non-space runs), sentences ([.!?]+ runs, min 1
    per doc), and vowel runs are integer regexp counts summed exactly;
    the Flesch formula is one mirrored double expression over three
    integer totals.

    Scale: ONE documents scan, one map-side-combined aggregate."""
    from lexam_data_pipeline_spark.functions.text import readability_counts

    agg = readability_counts(load_table(spark, sf_dir, "documents"))
    wd = F.col("words").cast("double")
    flesch = (
        F.lit(206.835)
        - 1.015 * wd / F.col("sentences").cast("double")
        - 84.6 * F.col("syllables").cast("double") / wd
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("words").cast("bigint").alias("words"),
        F.col("sentences").cast("bigint").alias("sentences"),
        F.col("syllables").cast("bigint").alias("syllables"),
        F.round(F.when(F.col("words") > 0, flesch), 4).alias("flesch"),
    ).orderBy("source")


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): using each
    customer's PRE-period spend (orders ≤ 1996) as the covariate for
    the post-period metric (≥ 1997), how much experiment variance does
    the adjustment Y − θ(X − X̄) remove?  The power-planning number an
    A/B platform computes before every experiment — var reduction
    equals ρ², so the report is θ, ρ, and the percentage saved.

    Exact core: the five moments (n, ΣX, ΣY, ΣX², ΣXY, ΣY²) accumulate
    as exact decimals over per-customer cent totals (operands cast to
    decimal(12,0) BEFORE multiplying — X·Y reaches ~1e24 at 100 TB
    customer counts); θ = (nΣXY − ΣXΣY)/(nΣX² − (ΣX)²) and
    ρ² = (nΣXY − ΣXΣY)²/((nΣX² − (ΣX)²)(nΣY² − (ΣY)²)) close in one
    mirrored double block.

    Scale: one fact scan → per-customer conditional-sum rollup
    (|customers| rows, map-side combined) → 1-row moment reduction."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(F.year("o_orderdate") <= 1996, cents).otherwise(0)).alias("x"),
        F.sum(F.when(F.year("o_orderdate") >= 1997, cents).otherwise(0)).alias("y"),
    )
    m = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(_d12("x") * _d12("x")).alias("sxx"),
        F.sum(_d12("x") * _d12("y")).alias("sxy"),
        F.sum(_d12("y") * _d12("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    cxy = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    theta = cxy / vx
    rho2 = (cxy * cxy) / (vx * vy)
    ok = (vx > 0) & (vy > 0) & (F.col("n") > 1)
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(F.when(ok, theta), 6).alias("theta"),
        F.round(F.when(ok, rho2), 6).alias("rho_squared"),
        F.round(F.when(ok, 100.0 * rho2), 4).alias("var_reduction_pct"),
    )


def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources: |V_a ∩ V_b| /
    |V_a ∪ V_b| over distinct whitespace tokens — the corpus-mixing
    audit that says which sources are lexically redundant BEFORE
    computing document-level near-dups (q_dedup_threshold_sweep works
    at doc grain; this works at source grain).

    Exact: set sizes and intersections are integer counts; one mirrored
    division per pair.

    Scale: one tokenize scan → DISTINCT (source, term) table; the pair
    join fans each term to its sources² pairs (≤ |sources|² per term —
    bounded fan, never a doc-level join); output is |sources|² rows."""
    docs = load_table(spark, sf_dir, "documents")
    from lexam_data_pipeline_spark.functions.text import tokens

    vocab = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .where(F.col("term") != "")
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = vocab.select(F.col("source").alias("source_a"), "term")
    b = vocab.select(F.col("source").alias("source_b"), "term")
    common = (
        a.join(b, "term")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("v").alias("va")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("v").alias("vb")))
    return (
        common.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("va").cast("bigint").alias("va"),
            F.col("vb").cast("bigint").alias("vb"),
            F.col("common").cast("bigint").alias("common"),
            F.round(
                F.col("common")
                / (F.col("va") + F.col("vb") - F.col("common")).cast("double"),
                6,
            ).alias("vocab_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


#: standard-normal quantiles for q_ab_power, inlined as literals in BOTH
#: engines (the SPRT ln-constant pattern); pinned against
#: statistics.NormalDist().inv_cdf by tests/test_round7_operators.py.
Z_975 = 1.959963984540054  # two-sided alpha = 0.05
Z_80 = 0.8416212335729143  # power = 0.80


def q_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size planning: per-arm n needed to detect a 1/2/5/10%
    relative lift in mean order value at alpha=0.05 (two-sided), power
    0.80 — n = ⌈2(z_{α/2}+z_β)²σ²/(δμ)²⌉.  The planning companion of
    q_welch_ttest (which tests after the fact) and q_cuped_adjustment
    (whose ρ² discounts these n's).

    Exact core: μ and σ² come from the same decimal-exact moments as
    q_welch_ttest (one scan, one aggregate); the grid fan-out is a
    4-literal explode; z quantiles are inlined literals identical in
    both engines, so the closing ceil over mirrored doubles is
    engine-exact.

    Scale: 1-row moments × 4-row grid — nothing else moves."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    m = orders.select(cents.alias("v")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(_d12("v") * _d12("v")).alias("ss"),
    )
    n = F.col("n").cast("double")
    s, ss = F.col("s").cast("double"), F.col("ss").cast("double")
    mu = s / n
    var = (ss - s * s / n) / (n - 1.0)
    grid = m.select(
        "n",
        mu.alias("mu"),
        var.alias("var"),
        F.explode(F.array(*[F.lit(d) for d in (0.01, 0.02, 0.05, 0.10)])).alias(
            "delta"
        ),
    )
    z2 = (Z_975 + Z_80) * (Z_975 + Z_80)
    n_arm = F.ceil(
        2.0 * F.lit(z2) * F.col("var")
        / ((F.col("delta") * F.col("mu")) * (F.col("delta") * F.col("mu")))
    )
    return grid.select(
        F.col("delta").cast("double").alias("delta"),
        F.round(F.col("delta") * F.col("mu") / 100.0, 4).alias("mde_dollars"),
        F.when(F.col("n") > 1, n_arm).cast("bigint").alias("n_per_arm"),
    ).orderBy("delta")


def q_sampling_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the deterministic md5-threshold sample (q_stratified_sample's
    membership rule) distort the o_orderpriority mix?  Chi-square
    goodness-of-fit of sampled counts against expectations scaled from
    the full table — the audit that certifies a sampling rule unbiased
    BEFORE the sample feeds training.

    Exact core: with category total n_c, sampled obs_c, grand totals
    N/S, each contribution is (obs_c·N − n_c·S)²/(N·n_c·S) — the
    numerator an exact decimal via cross-multiplication, one mirrored
    double division per category.

    Scale: ONE scan, one conditional aggregate (membership is a
    map-side md5 predicate), |categories|-row closing with broadcast
    grand totals."""
    orders = load_table(spark, sf_dir, "orders")
    in_sample = (
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4) < "1999"
    )
    cells = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_full"),
        F.sum(in_sample.cast("bigint")).alias("n_sampled"),
    )
    totals = cells.agg(
        F.sum("n_full").alias("nt"), F.sum("n_sampled").alias("st")
    )
    j = cells.join(F.broadcast(totals))
    num = _d18("n_sampled") * _d18("nt") - _d18("n_full") * _d18("st")
    den = (
        F.col("nt").cast("double")
        * F.col("n_full").cast("double")
        * F.col("st").cast("double")
    )
    return j.select(
        "priority",
        F.col("n_full").cast("bigint").alias("n_full"),
        F.col("n_sampled").cast("bigint").alias("n_sampled"),
        F.round(
            F.col("n_full") / F.nullif(F.col("nt").cast("double"), F.lit(0.0)),
            6,
        ).alias("full_share"),
        # a world where NO key hashes under the threshold (tiny/constant
        # corpora) must yield NULL shares, not a divide-by-zero
        F.round(
            F.col("n_sampled")
            / F.nullif(F.col("st").cast("double"), F.lit(0.0)),
            6,
        ).alias("sampled_share"),
        F.round(
            F.when(
                den > 0, (num * num).cast("double") / den
            ),
            6,
        ).alias("chi2_contrib"),
    ).orderBy("priority")


def q_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution at TWO grains: exact content
    clusters (md5 of the body) and 40-char-prefix template clusters —
    how many clusters have 1, 2, 3, … members and how many documents
    sit in each band.  The one-glance dedup health check run before and
    after any dedup pass: the exact grain counts verbatim copies, the
    prefix grain surfaces boilerplate templates exact hashing misses
    (its pair-grain siblings: q_dedup_exact keeps survivors,
    q_dedup_threshold_sweep sweeps near-dup thresholds).

    Scale: ONE scan feeds both grains (the exact key is a map-side md5,
    the template key a substring); each is a hash-groupBy on a ≤40-byte
    key — bodies never shuffle — then a |distinct sizes|-row rollup.
    All counts exact integers; the share is the one mirrored division."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.coalesce(F.col("text"), F.lit(""))
    keyed = docs.select(
        F.md5(body).alias("exact"),
        F.substring(body, 1, 40).alias("template"),
    )
    out = None
    for grain in ("exact", "template"):
        clusters = keyed.groupBy(F.col(grain).alias("h")).agg(
            F.count(F.lit(1)).alias("size")
        )
        dist = (
            clusters.groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .select(F.lit(grain).alias("grain"), "size", "n_clusters")
        )
        out = dist if out is None else out.unionByName(dist)
    total = out.groupBy("grain").agg(
        F.sum(F.col("size") * F.col("n_clusters")).alias("n_docs_total")
    )
    return (
        out.join(F.broadcast(total), "grain")
        .select(
            "grain",
            F.col("size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
            F.round(
                (F.col("size") * F.col("n_clusters"))
                / F.col("n_docs_total").cast("double"),
                6,
            ).alias("doc_share"),
        )
        .orderBy("grain", "cluster_size")
    )


# ─── round 8: serving-endpoint composites driven end-to-end on fixtures ─────


def _lexam_projection(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Load-and-project wrapper over :func:`_lexam_projection_from`."""
    # fan=False measured and rejected: every consumer of this projection
    # (q_questions_page, q_dashboard_suite, the /stats family) runs many
    # small jobs off the persisted answers/judgments frames, and the
    # extra exchange taxes each sub-job — interleaved A/B min-of-3:
    # questions_page 4.09→12.68 s ON, dashboard_suite 3.37→5.54,
    # compare_judges 1.66→2.93, experiment_stats 3.19→4.26.
    return _lexam_projection_from(load_table(spark, sf_dir, "documents"))


def _lexam_projection_from(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic LEXam-shaped (questions, variants) projection of a
    ``documents``-schema frame (batch or micro-batch — the streaming
    dashboard maintainer derives per-trigger frames through the SAME
    expressions) — the shared input of the three round-8
    serving-parity keys (q_questions_page, q_search_top_courses,
    q_dashboard_suite), extending q_course_summary's derivation with the
    columns the listing/dashboard endpoints touch.

    Derivation rules (mirrored verbatim in the oracle CTE — see
    plans.oracles._LEXAM_Q_V_CTE):

    * id = lpad(doc_id, 8, '0') — zero-padded so the STRING tiebreak
      sort equals numeric order in both engines
    * question = text; course = source; language = lang
    * area = AREAS[len(course) mod 4] (functionally dependent on course)
    * jurisdiction = JURISDICTIONS[doc_id mod 3]
    * year = 2000 + doc_id mod 24
    * international = NULL when doc_id mod 11 = 0 (genuine 3-valued
      booleans for the P3 filter), else doc_id mod 7 = 0
    * variant 1: id = doc_id*10, config = CONFIGS[doc_id mod 5] (four
      MCQ sizes + open_question), split by doc_id parity; open variants
      carry answer = substr(text, 1, 80), MCQ variants carry gold =
      doc_id mod 4 and a fixed 4-letter choices array
    * docs with doc_id mod 3 = 0 add an open_question/test variant
      (id = doc_id*10+1) whose answer is prefixed 'merge-audit ' — so
      the answer-side search EXISTS genuinely widens the match set

    One documents scan produces BOTH frames; variants are a 1-or-2
    exploded per-doc array, not a union of two scans."""
    from lexam_data_pipeline_spark.serving.dashboard import (
        AREAS,
        JURISDICTIONS,
        MCQ_CONFIGS,
    )

    areas = F.array(*[F.lit(a) for a in AREAS])
    juris = F.array(*[F.lit(j) for j in JURISDICTIONS])
    configs = F.array(*[F.lit(c) for c in (*MCQ_CONFIGS, "open_question")])
    qid = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    questions = docs.select(
        qid.alias("id"),
        F.col("text").alias("question"),
        F.col("source").alias("course"),
        F.col("lang").alias("language"),
        F.element_at(areas, (F.length("source") % 4 + 1).cast("int")).alias("area"),
        F.element_at(juris, (F.col("doc_id") % 3 + 1).cast("int")).alias(
            "jurisdiction"
        ),
        (F.col("doc_id") % 24 + 2000).cast("int").alias("year"),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(None).cast("boolean")
        )
        .otherwise(F.col("doc_id") % 7 == 0)
        .alias("international"),
    )
    is_open1 = F.col("doc_id") % 5 == 4
    v1 = F.struct(
        (F.col("doc_id") * 10).alias("id"),
        F.element_at(configs, (F.col("doc_id") % 5 + 1).cast("int")).alias(
            "config"
        ),
        F.when(F.col("doc_id") % 2 == 0, "dev").otherwise("test").alias("split"),
        F.when(is_open1, F.lit(None).cast("array<string>"))
        .otherwise(F.array(F.lit("A"), F.lit("B"), F.lit("C"), F.lit("D")))
        .alias("choices"),
        F.when(is_open1, F.lit(None).cast("int"))
        .otherwise((F.col("doc_id") % 4).cast("int"))
        .alias("gold"),
        F.when(is_open1, F.substring("text", 1, 80)).alias("answer"),
    )
    v2 = F.struct(
        (F.col("doc_id") * 10 + 1).alias("id"),
        F.lit("open_question").alias("config"),
        F.lit("test").alias("split"),
        F.lit(None).cast("array<string>").alias("choices"),
        F.lit(None).cast("int").alias("gold"),
        F.concat(F.lit("merge-audit "), F.substring("text", 11, 60)).alias(
            "answer"
        ),
    )
    variants = docs.select(
        qid.alias("question_id"),
        F.explode(
            F.when(F.col("doc_id") % 3 == 0, F.array(v1, v2)).otherwise(
                F.array(v1)
            )
        ).alias("v"),
    ).select(
        "v.id", "question_id", "v.config", "v.split", "v.choices", "v.gold", "v.answer"
    )
    return questions, variants


def q_questions_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The questions-listing endpoint (ref backend/app/main.py:155-220)
    driven END-TO-END through serving.questions.questions_page on the
    fixture projection: IN-list + 3-valued-boolean filters (P2/P3),
    variant-side semi-join restriction (P7/J6), substring search over
    question text OR any variant answer (P4 + correlated EXISTS J4),
    year-desc sort with the stable id tiebreak (O1), offset/limit
    pagination (O2), and per-question nested variants (J2) — the same
    code path tests/test_serving.py drives, now with a DuckDB oracle.

    The nested array<struct> is serialized to one deterministic string
    per question (variants sorted by variant id — array_sort on the
    id-first struct) so the driver's column-hash can compare it; the
    page's total count rides along as a literal column.

    Scale: the deep work is the filtered scan; the global sort ships
    only the page keys (limit ≤ 200 by the endpoint's cap) and variant
    nesting joins the ≤60-row page broadcast-side (see
    serving/questions.py scale notes)."""
    from lexam_data_pipeline_spark.serving.questions import questions_page

    questions, variants = _lexam_projection(spark, sf_dir)
    page = questions_page(
        questions,
        variants,
        fc={
            "area": ["Private", "Public"],
            "config": ["open_question"],
            "international": False,
        },
        search="merge",
        sort_by="year",
        sort_dir="desc",
        offset=7,
        limit=60,
    )
    repr_v = F.array_join(
        F.transform(
            "variants",
            lambda v: F.concat_ws(
                "~",
                v["id"].cast("string"),
                v["config"],
                v["split"],
                F.coalesce(v["gold"].cast("string"), F.lit("-")),
                F.coalesce(v["answer"], F.lit("-")),
            ),
        ),
        "|",
    )
    return page.rows.select(
        F.lit(page.total).cast("bigint").alias("total"),
        "id",
        "course",
        "area",
        "jurisdiction",
        "year",
        "language",
        F.size("variants").cast("int").alias("n_variants"),
        repr_v.alias("variants_repr"),
    )


def q_search_top_courses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The search-suggestions endpoint (O3, ref main.py:531-543): top-10
    courses by match count for a term, searched case-insensitively over
    question text OR any variant answer, deterministic via the course
    tiebreak — end-to-end through serving.questions.top_courses_for_search.

    Scale: one filtered scan + a |courses|-row aggregate; the top-10 is
    a TakeOrdered over group counts, never a full sort."""
    from lexam_data_pipeline_spark.serving.questions import top_courses_for_search

    questions, variants = _lexam_projection(spark, sf_dir)
    return top_courses_for_search(questions, variants, "scan", 10).select(
        "course", F.col("n_matches").cast("bigint").alias("n_matches")
    )


def q_dashboard_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 9-aggregate dashboard endpoint (ref main.py:311-459) driven
    END-TO-END through serving.dashboard.dashboard with a config
    restriction active, flattened to ONE long-format DataFrame
    (section, key, metric, value_num, value_str) so the whole suite is
    a single driver-oracled result: total, per-course counts with
    conditional language splits (A10), area/jurisdiction counts, the
    year×area pivot with row totals (A9), split shares (A4+A15), two
    more pivots, the fixed-bin answer-length histogram densified to
    empty bins (A8), and per-area word-count stats with the exact
    median (A7).

    Every aggregate is a rollup of two persisted cell tables, the
    question counts and the word-count histogram (the reference runs ~9
    separate Postgres round-trips); the flatten is a
    union of constant-width projections, so the long format adds no
    shuffle beyond each section's own group keys."""
    from lexam_data_pipeline_spark.serving.dashboard import dashboard

    questions, variants = _lexam_projection(spark, sf_dir)
    d = dashboard(
        questions, variants, configs=["mcq_4_choices", "open_question"]
    )

    from lexam_data_pipeline_spark.serving.dashboard import flatten_dashboard

    return flatten_dashboard(d)


# ─── round 9: experiment-stats serving composites on a deterministic
# answers/judgments projection ───────────────────────────────────────────────


def _lexam_answers_projection(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Deterministic (questions, variants, answers, judgments) fixture —
    the full experiment-stats input, extending :func:`_lexam_projection`
    with per-variant answers and per-answer judgments so the reference's
    ``/stats`` family (ref backend/app/routers/experiment_stats.py) can
    run END-TO-END under the DuckDB oracle.

    Derivation rules (mirrored verbatim in plans.oracles._LEXAM_A_J_CTE;
    ``did`` = doc_id = variant_id div 10, ``r`` = run index 0/1,
    ``g`` = judge index 0/1, ``aid`` = answer id = variant_id*10 + r):

    * two answers per variant (runs r ∈ {0,1}) — n_answers=2 activates
      the self-consistency block
    * experiment_id = 2 when did mod 7 = 3 else 1 (the experiment filter
      genuinely drops rows)
    * model_name = 'model-a' for run 0, 'model-b' for run 1 (the
      model_name filter splits runs)
    * error = 'timeout' when did mod 13 = 5 and r = 1 (errored rows are
      excluded by the engine's stats filter)
    * MCQ variants (gold IS NOT NULL): letter index li = (did + 2r)
      mod 5; li = 4 models an extraction failure (NULL letter → the
      answer counts as "open" per the reference's letter-based split);
      otherwise extracted_letter = chr(65+li), mcq_correct = (li = gold)
    * input_tokens NULL when did mod 19 = 4 (coalesce path), else
      100 + did mod 37 + 11r; output_tokens = 20 + did mod 23 + 7r
    * judgments: two judges ('judge-x', 'judge-y') for every NON-error
      answer with NULL extracted_letter; score NULL when (aid + g)
      mod 23 = 7, else ((aid*7 + 13g) mod 33) / 32.0 — multiples of
      1/32 are binary-exact doubles, so sums/averages are
      order-independent and engine-identical; judge tokens
      50 + aid mod 29 + 5g / 10 + aid mod 17 + 3g

    One documents scan feeds all four frames; answers and judgments are
    exploded per-variant/per-answer arrays, never re-scans."""
    questions, variants = _lexam_projection(spark, sf_dir)
    did = F.col("id") / F.lit(10)
    did = F.floor(did).cast("bigint")

    def answer_struct(r: int):
        li = (did + 2 * r) % 5
        has_letter = F.col("gold").isNotNull() & (li != 4)
        return F.struct(
            (F.col("id") * 10 + r).alias("id"),
            F.when(did % 7 == 3, F.lit(2)).otherwise(F.lit(1)).alias("experiment_id"),
            F.col("id").alias("variant_id"),
            F.lit("model-a" if r == 0 else "model-b").alias("model_name"),
            (
                F.when((did % 13 == 5) & F.lit(r == 1), F.lit("timeout"))
                .otherwise(F.lit(None).cast("string"))
            ).alias("error"),
            F.when(has_letter, F.char(li + 65)).alias("extracted_letter"),
            F.when(has_letter, li.cast("int") == F.col("gold")).alias("mcq_correct"),
            F.when(did % 19 == 4, F.lit(None).cast("bigint"))
            .otherwise(100 + did % 37 + 11 * r)
            .alias("input_tokens"),
            (20 + did % 23 + 7 * r).cast("bigint").alias("output_tokens"),
        )

    answers = variants.select(
        F.explode(F.array(answer_struct(0), answer_struct(1))).alias("a")
    ).select("a.*")

    aid = F.col("id")

    def judgment_struct(g: int):
        return F.struct(
            aid.alias("answer_id"),
            F.lit("judge-x" if g == 0 else "judge-y").alias("judge_model"),
            F.when((aid + g) % 23 == 7, F.lit(None).cast("double"))
            .otherwise(((aid * 7 + 13 * g) % 33) / F.lit(32.0))
            .alias("score"),
            (50 + aid % 29 + 5 * g).cast("bigint").alias("input_tokens"),
            (10 + aid % 17 + 3 * g).cast("bigint").alias("output_tokens"),
        )

    judgments = (
        answers.filter(F.col("extracted_letter").isNull() & F.col("error").isNull())
        .select(F.explode(F.array(judgment_struct(0), judgment_struct(1))).alias("j"))
        .select("j.*")
    )
    # The stats composites flatten ~10 sections, each its own job off
    # these two frames — persist the derived tables ONCE (slot-bounded;
    # ~2 kB/row × |variants|·2) instead of re-deriving documents →
    # variants → answers → judgments per section (measured 4.4 s →
    # ~2 s for q_experiment_stats at sf0.1).
    from lexam_data_pipeline_spark.operators.caching import persist_slot

    answers = persist_slot(answers, "lexam.answers")
    judgments = persist_slot(judgments, "lexam.judgments")
    return questions, variants, answers, judgments


def q_experiment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full /stats endpoint payload (ref experiment_stats.py:13-114)
    driven END-TO-END through serving.stats on the answers/judgments
    fixture: overall MCQ/open counts + accuracy (A12), exact
    median + avg of judged scores (A7), the densified 11-bucket score
    histogram (A8), per-area AND per-course breakdowns (the reference
    embeds both in the same payload), generation/judge token totals with
    the grand total, and the n_answers=2 self-consistency block (A13) —
    flattened to one long-format frame like q_dashboard_suite.

    Scale: every section is a bounded aggregate off ONE persisted
    filtered answers base (the reference runs ~7 Python passes + N+1
    judgment lookups); the score semi-join ships only answer ids; no
    section's group count exceeds |courses|."""
    from lexam_data_pipeline_spark.serving.stats import (
        breakdown_by_fields,
        experiment_stats,
        flatten_experiment_stats,
    )

    questions, variants, answers, judgments = _lexam_answers_projection(spark, sf_dir)
    s = experiment_stats(
        answers, judgments, experiment_id=1, n_answers=2
    )
    breakdown = breakdown_by_fields(
        answers, judgments, variants, questions,
        experiment_id=1, fields=("area", "course"),
    )
    return flatten_experiment_stats(s, breakdown)


def q_compare_judges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /stats/compare-judges and /stats/by-question endpoints (ref
    experiment_stats.py:117-222) end-to-end on the answers/judgments
    fixture: per-judge judged-count/avg/exact-median (A6; the reference
    re-fetches every judge's scores for the median — one grouped
    aggregate here), and the per-question rollup (A14) with the
    reference's fold semantics made deterministic (config of the FIRST
    answer, LAST non-NULL mcq_correct — min_by/max_by over answer id),
    model-filtered to 'model-a' so the model_name parameter is active.

    Scale: judges section is a |judges|-row aggregate; by-question
    groups on question_id (same key as the enrich join, so AQE can
    avoid the second shuffle) and output is O(|questions|)."""
    from lexam_data_pipeline_spark.serving.stats import (
        compare_judges,
        flatten_compare_judges,
        stats_by_question,
    )

    questions, variants, answers, judgments = _lexam_answers_projection(spark, sf_dir)
    judges = compare_judges(answers, judgments, experiment_id=1)
    by_q = stats_by_question(
        answers, judgments, variants, questions,
        experiment_id=1, model_name="model-a",
    )
    return flatten_compare_judges(judges, by_q)


def q_experiment_stats_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /stats zero-scores edge (round-9 verdict item 2), driver-
    oracled end-to-end: experiment 2 filtered to a judge that has not
    run yet (``judge_model='judge-z'``) with ``n_answers=1``.  The
    reference then serves ``score_distribution`` as an EMPTY list (it
    builds the buckets under ``if scores:``, ref
    experiment_stats.py:55-61), ``avg/median = 0`` via the ``if
    scores`` ternaries (:51-52), zero judge-token sums through the
    ``or 0`` coalesces (:80-83), per-name breakdowns with NULL
    open_avg_score, and ``self_consistency: None`` because
    ``n_answers ≤ 1`` (:87-89) — so the flattened payload must contain
    NO score_distribution and NO self_consistency rows while every
    other section stays fully populated.

    Scale: identical plan shape to q_experiment_stats minus the judged
    branches; the histogram gate is a broadcast 0-row aggregate."""
    from lexam_data_pipeline_spark.serving.stats import (
        breakdown_by_fields,
        experiment_stats,
        flatten_experiment_stats,
    )

    questions, variants, answers, judgments = _lexam_answers_projection(spark, sf_dir)
    s = experiment_stats(
        answers, judgments, experiment_id=2, judge_model="judge-z", n_answers=1
    )
    breakdown = breakdown_by_fields(
        answers, judgments, variants, questions,
        experiment_id=2, fields=("area", "course"), judge_model="judge-z",
    )
    return flatten_experiment_stats(s, breakdown)
