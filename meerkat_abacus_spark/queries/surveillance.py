"""Surveillance-engine queries (SURVEY.md \u00a72 F/G/J/V/C/A operators):
QC filters, fan-out, coding, links, alerts, locations, epi-weeks."""

from __future__ import annotations

from meerkat_abacus_spark.functions.epi_week import (
    epi_week_columns,
    epi_week_duckdb_sql,
)
from meerkat_abacus_spark.operators import alerts as al
from meerkat_abacus_spark.operators import locations as loc
from meerkat_abacus_spark.operators import quality_control as qc
from meerkat_abacus_spark.operators.coding import Rule, code_dataframe
from meerkat_abacus_spark.operators.geo import locate_points
from meerkat_abacus_spark.operators.initial_visit import initial_visit_control
from meerkat_abacus_spark.operators.links import LinkDef, add_links, link_aggregate
from meerkat_abacus_spark.datapipe import dedup as dd
from meerkat_abacus_spark.operators.locations import flatten_location_hierarchy
from meerkat_abacus_spark.operators.multirow import split_multiple_rows
from meerkat_abacus_spark.operators.send_alerts import (
    render_alert_messages,
    topic_fan_out,
)
from meerkat_abacus_spark.operators.to_data_type import (
    DataTypeSpec,
    fan_out_data_types,
)
from meerkat_abacus_spark.plans.pipeline import surveillance_pipeline
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
import datetime as _dt
from ._shared import _register, _t



# ---------------------------------------------------------------------------
# Flagship (A7): cases by variable × region × epi-week.
# Orders are the case "form"; the coding rules tag urgent/big orders; the
# customer→nation→region chain is the location hierarchy (broadcast joins);
# epi-week bucketing uses the Monday-start day:0 config (demo_config.py:41).
# ---------------------------------------------------------------------------

_FLAGSHIP_RULES = [
    Rule(id="urgent_1", method="match", db_column="o_orderpriority",
         condition="1-URGENT", category=["priority"], calculation_group="prio"),
    Rule(id="high_2", method="match", db_column="o_orderpriority",
         condition="2-HIGH", category=["priority"], calculation_group="prio"),
    Rule(id="big_1", method="between", db_column="o_totalprice",
         condition="150000,100000000", calculation="o_totalprice"),
]



_EPI_Y_SQL, _EPI_W_SQL = epi_week_duckdb_sql("o_orderdate", "day:0")




@_register(
    "flagship_cases_region_epiweek",
    f"""
    SELECT r.r_name AS region,
           {_EPI_Y_SQL} AS epi_year,
           {_EPI_W_SQL} AS epi_week,
           COUNT(*) AS n_cases,
           CAST(SUM(CASE WHEN o_totalprice >= 150000 AND o_totalprice < 100000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_big
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1, 2, 3
    """,
)
def flagship_cases_region_epiweek(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meerkat_abacus_spark.operators.coding import compile_rule_test

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    # Early case filter (r17, guide §2.3 shuffle fewer bytes / §6
    # predicate pushdown): the query keeps only rows whose coded
    # variables contain urgent_1, and the urgent_1 rule tests ONLY an
    # orders column — so the SAME compiled rule predicate is applied to
    # orders BEFORE the join chain, pushing the '1-URGENT' filter into
    # the orders scan (PushedFilters) and sending ~5× fewer rows through
    # all three joins and the coding projection.  The predicate is
    # DERIVED from the rule object (compile_rule_test), not duplicated
    # by hand, so rule edits cannot diverge from the pre-filter; the
    # map_contains_key filter below stays as the semantic contract and
    # is the identity on the surviving rows.
    urgent_rule = next(r for r in _FLAGSHIP_RULES if r.id == "urgent_1")
    urgent_passed, _ = compile_rule_test(urgent_rule, "day:0")
    orders = orders.filter(urgent_passed)
    # J5-shaped enrichment: nation/region are bounded dims and carry explicit
    # broadcast hints; customer GROWS with scale factor, so its join is left
    # unhinted — size-based AQE broadcasts it at small SF and degrades to a
    # shuffle join at 100× instead of OOMing on an un-demotable hint.
    enriched = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    coded = code_dataframe(enriched, _FLAGSHIP_RULES, epi_config="day:0")
    epi_year, epi_week = epi_week_columns("o_orderdate", "day:0")
    coded = coded.withColumns({"epi_year": epi_year, "epi_week": epi_week})
    return (
        coded.filter(F.map_contains_key(F.col("variables"), "urgent_1"))
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("epi_year"),
            F.col("epi_week"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cases"),
            F.sum(
                F.when(F.map_contains_key(F.col("variables"), "big_1"), 1).otherwise(0)
            ).alias("n_big"),
        )
    )




# ---------------------------------------------------------------------------
# F1-F5 quality control: date cutoff + exclusion anti-join + allowlist
# semi-join, all pushdown/broadcast shaped.
# ---------------------------------------------------------------------------


@_register(
    "qc_filters",
    """
    SELECT o.o_orderstatus AS status,
           COUNT(*) AS n,
           ROUND(SUM(o.o_totalprice), 2) AS total
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1995-01-01'
      AND o.o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      AND o.o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE'))
    GROUP BY 1
    """,
)
def qc_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    out = qc.submission_date_filter(orders, "o_orderdate", "1995-01-01")
    exclusion = customer.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("o_custkey")
    )
    out = qc.exclusion_anti_join(out, exclusion, key="o_custkey")
    allow = customer.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
    ).select(F.col("c_custkey").alias("o_custkey"))
    out = qc.device_allowlist(out, allow, device_col="o_custkey")
    return out.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )




# ---------------------------------------------------------------------------
# G1 to_data_type fan-out: events → Case/Register/Visit envelopes.
# ---------------------------------------------------------------------------

_FANOUT_SPECS = [
    DataTypeSpec(name="Case", type="case", form="events",
                 db_column="event_type", condition="purchase",
                 date="ts", var="tot_1", uuid="event_id"),
    DataTypeSpec(name="Register", type="register", form="events",
                 db_column="event_type", condition="signup",
                 date="ts", var="reg_1", uuid="event_id"),
    DataTypeSpec(name="Visit", type="visit", form="events",
                 date="ts", var="vis_1", uuid="event_id"),
]




@_register(
    "fanout_data_types",
    """
    SELECT type, type_name, COUNT(*) AS n FROM (
        SELECT 'case' AS type, 'Case' AS type_name FROM events
          WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'register', 'Register' FROM events WHERE event_type = 'signup'
        UNION ALL
        SELECT 'visit', 'Visit' FROM events
    ) GROUP BY 1, 2
    """,
)
def fanout_data_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    fanned = fan_out_data_types({"events": events}, _FANOUT_SPECS)
    return fanned.groupBy("type", "type_name").agg(F.count(F.lit(1)).alias("n"))




# ---------------------------------------------------------------------------
# V1-V5/C2/C5 coding engine over events: match group + between + calc rules.
# Output = per-variable record counts (the A7 consumption shape).
# ---------------------------------------------------------------------------

_EVENT_RULES = [
    Rule(id="pur_1", method="match", db_column="event_type",
         condition="purchase", category=["evt"], calculation_group="etype"),
    Rule(id="clk_1", method="match", db_column="event_type",
         condition="click,view", category=["evt"], calculation_group="etype"),
    Rule(id="err_1", method="match", db_column="event_type",
         condition="error", category=["evt"], calculation_group="etype"),
    Rule(id="val_low", method="between", db_column="value",
         condition="0,50", calculation="value"),
    Rule(id="val_gross", method="calc", db_column="value",
         condition="", calculation="value * 2"),
]




@_register(
    "coding_variables",
    """
    SELECT var_id, COUNT(*) AS n FROM (
        SELECT 'pur_1' AS var_id FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'clk_1' FROM events WHERE event_type IN ('click', 'view')
        UNION ALL
        SELECT 'err_1' FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT 'val_low' FROM events
          WHERE CAST(value AS VARCHAR) <> '' AND value >= 0 AND value < 50
        UNION ALL
        SELECT 'val_gross' FROM events WHERE value * 2 IS NOT NULL
    ) GROUP BY 1
    """,
)
def coding_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    coded = code_dataframe(events, _EVENT_RULES)
    return (
        coded.select(F.explode(F.map_keys(F.col("variables"))).alias("var_id"))
        .groupBy("var_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )




# ---------------------------------------------------------------------------
# C2+C3 calculation_group mutual exclusion with priorities: the lowest
# priority number that passes wins and owns the category.
# ---------------------------------------------------------------------------

_BAND_RULES = [
    Rule(id="band_low", method="between", db_column="value", condition="0,1000000",
         calculation="value", category=["band"], calculation_group="band",
         calculation_priority=4),
    Rule(id="band_mid", method="between", db_column="value", condition="40,1000000",
         calculation="value", category=["band"], calculation_group="band",
         calculation_priority=3),
    Rule(id="band_high", method="between", db_column="value", condition="70,1000000",
         calculation="value", category=["band"], calculation_group="band",
         calculation_priority=2),
    Rule(id="band_vhigh", method="between", db_column="value", condition="90,1000000",
         calculation="value", category=["band"], calculation_group="band",
         calculation_priority=1),
]




@_register(
    "coding_groups_priority",
    """
    SELECT CASE WHEN value >= 90 THEN 'band_vhigh'
                WHEN value >= 70 THEN 'band_high'
                WHEN value >= 40 THEN 'band_mid'
                WHEN value >= 0 THEN 'band_low'
           END AS band,
           COUNT(*) AS n
    FROM events
    WHERE CAST(value AS VARCHAR) <> ''
    GROUP BY 1
    """,
)
def coding_groups_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    coded = code_dataframe(events, _BAND_RULES)
    return (
        coded.select(F.element_at(F.col("categories"), "band").alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"))
    )




@_register(
    "category_pivot",
    """
    SELECT event_type,
           CAST(SUM(CASE WHEN value >= 0 AND value < 40 THEN 1 ELSE 0 END)
                AS BIGINT) AS band_low,
           CAST(SUM(CASE WHEN value >= 40 AND value < 70 THEN 1 ELSE 0 END)
                AS BIGINT) AS band_mid,
           CAST(SUM(CASE WHEN value >= 70 AND value < 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS band_high,
           CAST(SUM(CASE WHEN value >= 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS band_vhigh
    FROM events
    WHERE CAST(value AS VARCHAR) <> ''
    GROUP BY 1
    """,
)
def category_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 cross-tab consumption: categories map → pivot columns.  Spark's
    ``pivot`` with an explicit value list compiles to conditional partial
    aggregates — same single-exchange plan as any groupBy, no extra pass."""
    events = _t(spark, sf_dir, "events")
    coded = code_dataframe(events, _BAND_RULES)
    bands = ["band_low", "band_mid", "band_high", "band_vhigh"]
    return (
        coded.select(
            "event_type",
            F.element_at(F.col("categories"), "band").alias("band"),
        )
        .filter(F.col("band").isNotNull())
        .groupBy("event_type")
        .pivot("band", bands)
        .count()
        .fillna(0, subset=bands)
    )




# ---------------------------------------------------------------------------
# C9 epi-week bucketing over the events stream (day:2 exercises the
# year-boundary path: Jan 1-2 2024 belong to epi year 2023).
# ---------------------------------------------------------------------------

_EV_Y_SQL, _EV_W_SQL = epi_week_duckdb_sql("ts", "day:2")




@_register(
    "epiweek_counts",
    f"""
    SELECT {_EV_Y_SQL} AS epi_year,
           {_EV_W_SQL} AS epi_week,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def epiweek_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    epi_year, epi_week = epi_week_columns("ts", "day:2")
    return (
        events.withColumns({"epi_year": epi_year, "epi_week": epi_week})
        .groupBy("epi_year", "epi_week", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )




# ---------------------------------------------------------------------------
# J1 ordered links + C4 first/last/count: orders ← lineitem, ordered by
# (shipdate, linenumber); every aggregate reads the collected array.
# ---------------------------------------------------------------------------

_ORDER_LINES_LINK = LinkDef(
    name="lines",
    type="case",
    to_form="lineitem",
    from_form="orders",
    from_column="o_orderkey",
    to_column="l_orderkey",
    method="match",
    order_by="l_shipdate;date",
    uuid="l_linenumber",
)




@_register(
    "links_ordered",
    """
    WITH ranked AS (
        -- tie-break mirrors Spark's struct comparison: after (shipdate,
        -- linenumber-as-string) ties fall through the remaining payload
        -- fields in column order
        SELECT l_orderkey,
               l_returnflag,
               l_shipdate,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                   ORDER BY l_shipdate ASC, CAST(l_linenumber AS VARCHAR) ASC,
                            l_returnflag ASC) rn_a,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                   ORDER BY l_shipdate DESC, CAST(l_linenumber AS VARCHAR) DESC,
                            l_returnflag DESC) rn_d,
               COUNT(*) OVER (PARTITION BY l_orderkey) n_lines
        FROM lineitem
    )
    SELECT f.l_orderkey AS o_orderkey,
           f.n_lines AS n_lines,
           CAST(f.l_shipdate AS DATE) AS first_ship,
           l.l_returnflag AS last_flag
    FROM ranked f
    JOIN ranked l ON f.l_orderkey = l.l_orderkey AND l.rn_d = 1
    WHERE f.rn_a = 1
    """,
)
def links_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    # collect="extrema" (r16, guide §2.3): this query only reads
    # first/last/count of the link, so the link shuffle carries 3
    # pre-aggregated values per key instead of every line's struct —
    # identical output (struct min/max = sorted-array ends; pinned by
    # test_link_extrema_matches_array_path and the oracle).
    linked = add_links(
        orders, {"lineitem": lineitem}, [_ORDER_LINES_LINK],
        payload_columns={"lines": ["l_returnflag", "l_shipdate"]},
        collect="extrema",
    )
    first = link_aggregate(linked, "lines", "first")
    last = link_aggregate(linked, "lines", "last")
    return linked.filter(F.col("link_lines_count") > 0).select(
        F.col("o_orderkey"),
        link_aggregate(linked, "lines", "count").cast("bigint").alias("n_lines"),
        F.to_date(first["l_shipdate"]).alias("first_ship"),
        last["l_returnflag"].alias("last_flag"),
    )




# ---------------------------------------------------------------------------
# C4 any/all over link arrays.
# ---------------------------------------------------------------------------


@_register(
    "links_any_all",
    """
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN any_r THEN 1 ELSE 0 END) AS BIGINT) AS n_any_returned,
           CAST(SUM(CASE WHEN all_f THEN 1 ELSE 0 END) AS BIGINT) AS n_all_fulfilled
    FROM (
        SELECT l_orderkey,
               BOOL_OR(l_returnflag = 'R') AS any_r,
               BOOL_AND(l_linestatus = 'F') AS all_f
        FROM lineitem GROUP BY 1
    )
    """,
)
def links_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    linked = add_links(
        orders, {"lineitem": lineitem}, [_ORDER_LINES_LINK],
        payload_columns={"lines": ["l_returnflag", "l_linestatus"]},
    ).filter(F.size("link_lines") > 0)
    any_r = link_aggregate(
        linked, "lines", "any", test=lambda row: row["l_returnflag"] == "R"
    )
    all_f = link_aggregate(
        linked, "lines", "all", test=lambda row: row["l_linestatus"] == "F"
    )
    return linked.select(
        any_r.alias("any_r"), all_f.alias("all_f")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("any_r"), 1).otherwise(0)).alias("n_any_returned"),
        F.sum(F.when(F.col("all_f"), 1).otherwise(0)).alias("n_all_fulfilled"),
    )




# ---------------------------------------------------------------------------
# J7 initial_visit_control: first signup per user stays "signup", later ones
# are rewritten to "return".
# ---------------------------------------------------------------------------


@_register(
    "initial_visit_dedup",
    """
    SELECT CASE WHEN event_type = 'signup' AND rn > 1 THEN 'return'
                ELSE event_type END AS event_type,
           COUNT(*) AS n
    FROM (
        SELECT event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY CASE WHEN event_type = 'signup'
                                     THEN CAST(user_id AS VARCHAR) END,
                                event_type
                   ORDER BY ts ASC, CAST(event_id AS VARCHAR) ASC) AS rn
        FROM events
    )
    GROUP BY 1
    """,
)
def initial_visit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    rewritten = initial_visit_control(
        events,
        identifier_columns=["user_id"],
        visit_type_column="event_type",
        visit_date_column="ts",
        uuid_column="event_id",
        new_value="signup",
        return_value="return",
    )
    return rewritten.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))




# ---------------------------------------------------------------------------
# A1+A4 threshold alerts: ≥3 errors per user per day → alert; min-uuid is the
# master, the rest become sub-alerts.
# ---------------------------------------------------------------------------


@_register(
    "alert_threshold",
    """
    WITH buckets AS (
        SELECT user_id AS clinic,
               date_trunc('day', ts) AS period_start,
               COUNT(*) AS cnt,
               MIN(CAST(event_id AS VARCHAR)) AS master_alert
        FROM events
        WHERE event_type = 'error'
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    )
    SELECT b.clinic,
           CAST(b.period_start AS DATE) AS period_start,
           b.cnt AS n,
           CAST(e.event_id AS VARCHAR) AS uuid,
           CASE WHEN CAST(e.event_id AS VARCHAR) <> b.master_alert
                THEN 1 ELSE 0 END AS sub_alert,
           b.master_alert
    FROM buckets b
    JOIN events e ON e.user_id = b.clinic
       AND date_trunc('day', e.ts) = b.period_start
       AND e.event_type = 'error'
    """,
)
def alert_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").withColumn(
        "uuid", F.col("event_id").cast("string")
    )
    found = al.threshold_alerts(
        events,
        var_predicate=F.col("event_type") == "error",
        clinic_col="user_id",
        date_col="ts",
        uuid_col="uuid",
        daily_limit=3,
    )
    rep = al.assign_representatives(found)
    return rep.select(
        F.col("clinic"),
        F.to_date("period_start").alias("period_start"),
        F.col("count").alias("n"),
        "uuid",
        "sub_alert",
        "master_alert",
    )




# ---------------------------------------------------------------------------
# A3 trend alert (double-double generalized): weekly counts grow `factor`×
# twice in 3 consecutive epi weeks (reference factor = 2; the sparse test
# stream uses factor 1.0 = monotone growth so the predicate has data to bite).
# ---------------------------------------------------------------------------

_DD_Y_SQL, _DD_W_SQL = epi_week_duckdb_sql("ts", "day:0")




@_register(
    "alert_double_double",
    f"""
    WITH weekly AS (
        SELECT user_id % 50 AS clinic,
               {_DD_Y_SQL} AS epi_year,
               {_DD_W_SQL} AS epi_week,
               COUNT(*) AS cnt
        FROM events
        WHERE event_type = 'error'
        GROUP BY 1, 2, 3
    ), slotted AS (
        -- week-53-safe axis: (Y,53) sits on the odd slot between (Y,52)
        -- and (Y+1,1); adjacency below is gap <= 2 (see alerts.py A3)
        SELECT *, (epi_year * 52 + LEAST(epi_week, 52)) * 2
                  + CASE WHEN epi_week = 53 THEN 1 ELSE 0 END AS abs_week
        FROM weekly
    ), lagged AS (
        SELECT clinic, epi_year, epi_week, cnt, abs_week,
               LAG(cnt, 1) OVER w AS lag1,
               LAG(cnt, 2) OVER w AS lag2,
               LAG(abs_week, 1) OVER w AS abs_lag1,
               LAG(abs_week, 2) OVER w AS abs_lag2,
               SUM(cnt) OVER (PARTITION BY clinic ORDER BY abs_week
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS total5
        FROM slotted
        WINDOW w AS (PARTITION BY clinic ORDER BY abs_week)
    )
    SELECT clinic, epi_year, epi_week, cnt AS n
    FROM lagged
    WHERE abs_week - abs_lag1 <= 2 AND abs_lag1 - abs_lag2 <= 2
      AND lag2 > 1 AND lag1 >= 1.0 * lag2 AND cnt >= 1.0 * lag1
      AND total5 >= 14
    """,
)
def alert_double_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").withColumns(
        {
            "clinic": F.col("user_id") % 50,
            "uuid": F.col("event_id").cast("string"),
        }
    )
    epi_year, epi_week = epi_week_columns("ts", "day:0")
    events = events.withColumns({"epi_year": epi_year, "epi_week": epi_week})
    out = al.double_double_alerts(
        events,
        var_predicate=F.col("event_type") == "error",
        clinic_col="clinic",
        uuid_col="uuid",
        min_total=14,
        factor=1.0,
    )
    return out.select("clinic", "epi_year", "epi_week", F.col("count").alias("n"))




_DICT_EPI_CONFIG = {
    2023: _dt.date(2023, 1, 5),
    2024: _dt.date(2024, 1, 4),
}


_DICT_Y_SQL, _DICT_W_SQL = epi_week_duckdb_sql("ts", _DICT_EPI_CONFIG)




@_register(
    "epiweek_dict_config",
    f"""
    SELECT {_DICT_Y_SQL} AS epi_year,
           {_DICT_W_SQL} AS epi_week,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def epiweek_dict_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 per-year dict epi config (util/epi_week.py:45-82 dict branch):
    epi year = largest configured year whose start <= date.  The 2024 start
    (Jan 4) puts Jan 1-3 events into epi year 2023 at week ~52 — both the
    lookback and the in-year branch are exercised."""
    events = _t(spark, sf_dir, "events")
    epi_year, epi_week = epi_week_columns("ts", _DICT_EPI_CONFIG)
    return (
        events.select(epi_year, epi_week)
        .groupBy("epi_year", "epi_week")
        .agg(F.count(F.lit(1)).alias("n"))
    )




# ---------------------------------------------------------------------------
# A2 weekly threshold + the 4-limit hospital variant: clinics alert at >= 4
# errors per epi week, Hospitals only at >= 6 (add_multiple_alerts.py:218-252
# applies the normal-limit cut first, then the hospital limit — max of both).
# ---------------------------------------------------------------------------


@_register(
    "alert_threshold_weekly",
    f"""
    WITH base AS (
        SELECT user_id AS clinic,
               CASE WHEN user_id % 4 = 0 THEN 'Hospital' ELSE 'Clinic' END
                   AS clinic_type,
               {_DD_Y_SQL} AS epi_year,
               {_DD_W_SQL} AS epi_week,
               CAST(event_id AS VARCHAR) AS uuid
        FROM events
        WHERE event_type = 'error'
    ), weekly AS (
        SELECT clinic, clinic_type, epi_year, epi_week,
               COUNT(*) AS n,
               array_to_string(list_sort(list(uuid)), ',') AS uuid_list
        FROM base
        GROUP BY 1, 2, 3, 4
    )
    SELECT clinic, clinic_type, epi_year, epi_week,
           CAST(7 AS INT) AS duration, n, uuid_list
    FROM weekly
    WHERE n >= CASE WHEN clinic_type = 'Hospital'
                    THEN GREATEST(4, 6) ELSE 4 END
    """,
)
def alert_threshold_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").withColumns(
        {
            "uuid": F.col("event_id").cast("string"),
            "clinic_type": F.when(
                F.col("user_id") % 4 == 0, F.lit("Hospital")
            ).otherwise(F.lit("Clinic")),
        }
    )
    epi_year, epi_week = epi_week_columns("ts", "day:0")
    events = events.withColumns({"epi_year": epi_year, "epi_week": epi_week})
    found = al.threshold_alerts(
        events,
        var_predicate=F.col("event_type") == "error",
        clinic_col="user_id",
        date_col="ts",
        uuid_col="uuid",
        weekly_limit=4,
        hospital_weekly_limit=6,
        clinic_type_col="clinic_type",
    )
    return found.select(
        "clinic",
        "clinic_type",
        "epi_year",
        "epi_week",
        "duration",
        F.col("count").alias("n"),
        F.array_join("uuids", ",").alias("uuid_list"),
    )




# ---------------------------------------------------------------------------
# J8 alert_data copy: threshold masters join back to the raw form table on
# uuid and carry the configured alert_data columns (add_multiple_alerts.py:
# 89-121,140-144; demo_config.py:148-155 maps e.g. alert_gender/age).
# ---------------------------------------------------------------------------


@_register(
    "alert_masters_data",
    """
    WITH buckets AS (
        SELECT user_id AS clinic,
               date_trunc('day', ts) AS period_start,
               COUNT(*) AS cnt,
               MIN(CAST(event_id AS VARCHAR)) AS master_alert
        FROM events
        WHERE event_type = 'error'
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    )
    SELECT b.clinic,
           CAST(b.period_start AS DATE) AS period_start,
           b.cnt AS n,
           CAST(e.event_id AS VARCHAR) AS uuid,
           e.event_type AS alert_reason,
           ROUND(e.value, 3) AS alert_value,
           e.props AS alert_props
    FROM buckets b
    JOIN events e ON CAST(e.event_id AS VARCHAR) = b.master_alert
    """,
)
def alert_masters_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").withColumn(
        "uuid", F.col("event_id").cast("string")
    )
    found = al.threshold_alerts(
        events,
        var_predicate=F.col("event_type") == "error",
        clinic_col="user_id",
        date_col="ts",
        uuid_col="uuid",
        daily_limit=3,
    )
    masters = al.assign_representatives(found).filter(F.col("sub_alert") == 0)
    enriched = al.attach_alert_data(
        masters,
        events,
        alert_data={"reason": "event_type", "value": "value", "props": "props"},
    )
    return enriched.select(
        "clinic",
        F.to_date("period_start").alias("period_start"),
        F.col("count").alias("n"),
        "uuid",
        "alert_reason",
        F.round("alert_value", 3).alias("alert_value"),
        "alert_props",
    )




# ---------------------------------------------------------------------------
# J5 location hierarchy: adjacency (country→region→nation→customer) flattened
# by iterative broadcast self-joins, then an A6-style rollup.
# ---------------------------------------------------------------------------


@_register(
    "location_rollup",
    """
    SELECT r.r_name AS region,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def location_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")

    # Build the adjacency table the reference stores in `locations`
    # (model.py:57-78): country ← region ← nation(=district) ← customer(=clinic).
    # numPartitions=1 on every tiny literal range (r17): spark.range(n)
    # defaults to one slice per core, so the single country row used to
    # inject 32 near-empty tasks into every stage scanning the adjacency
    # union (measured: two 34-task stages per location_rollup run for a
    # 4-table dim whose real inputs are 1 file each).
    country = spark.range(0, 1, 1, 1).select(
        F.lit(0).alias("id"),
        F.lit(None).cast("long").alias("parent_location"),
        F.lit("country").alias("level"),
        F.lit("WORLD").alias("name"),
    )
    regions = region.select(
        (F.col("r_regionkey") + 1_000).cast("long").alias("id"),
        F.lit(0).cast("long").alias("parent_location"),
        F.lit("region").alias("level"),
        F.col("r_name").alias("name"),
    )
    nations = nation.select(
        (F.col("n_nationkey") + 2_000).cast("long").alias("id"),
        (F.col("n_regionkey") + 1_000).cast("long").alias("parent_location"),
        F.lit("district").alias("level"),
        F.col("n_name").alias("name"),
    )
    clinics = customer.select(
        (F.col("c_custkey") + 1_000_000).cast("long").alias("id"),
        (F.col("c_nationkey") + 2_000).cast("long").alias("parent_location"),
        F.lit("clinic").alias("level"),
        F.col("c_name").alias("name"),
    )
    adjacency = country.unionByName(regions).unionByName(nations).unionByName(clinics)
    flat = flatten_location_hierarchy(
        adjacency, levels=("clinic", "district", "region", "country")
    ).filter(F.col("level") == "clinic")

    dim = flat.select(
        (F.col("id") - 1_000_000).alias("custkey"),
        (F.col("region_id") - 1_000).alias("regionkey"),
    )
    # dim derives from customer (SF-growing): no broadcast hint — AQE
    # promotes the join while the flattened dim is small, shuffles at 100×.
    enriched = orders.join(dim, orders.o_custkey == dim.custkey)
    region_names = region.select(
        F.col("r_regionkey").alias("regionkey"), F.col("r_name").alias("region")
    )
    return (
        enriched.join(F.broadcast(region_names), "regionkey")
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )




# ---------------------------------------------------------------------------
# A6 population rollup: clinic populations summed into every ancestor level
# over the flattened dim (database_setup.py:156-166 walks parent_location with
# per-row UPDATEs; here it's one explode + one groupBy).
# ---------------------------------------------------------------------------


@_register(
    "population_rollup",
    """
    WITH clinics AS (
        SELECT c_custkey + 1000000 AS clinic_id,
               c_nationkey + 2000 AS district_id,
               n_regionkey + 1000 AS region_id,
               0 AS country_id,
               c_custkey % 1000 + 100 AS population
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
    ), pairs AS (
        SELECT 'clinic' AS level, clinic_id AS location_id, population FROM clinics
        UNION ALL
        SELECT 'district', district_id, population FROM clinics
        UNION ALL
        SELECT 'region', region_id, population FROM clinics
        UNION ALL
        SELECT 'country', country_id, population FROM clinics
    )
    SELECT level, location_id, CAST(SUM(population) AS BIGINT) AS population
    FROM pairs
    GROUP BY 1, 2
    """,
)
def population_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")

    country = spark.range(0, 1, 1, 1).select(
        F.lit(0).alias("id"),
        F.lit(None).cast("long").alias("parent_location"),
        F.lit("country").alias("level"),
        F.lit(0).cast("long").alias("population"),
    )
    regions = region.select(
        (F.col("r_regionkey") + 1_000).cast("long").alias("id"),
        F.lit(0).cast("long").alias("parent_location"),
        F.lit("region").alias("level"),
        F.lit(0).cast("long").alias("population"),
    )
    nations = nation.select(
        (F.col("n_nationkey") + 2_000).cast("long").alias("id"),
        (F.col("n_regionkey") + 1_000).cast("long").alias("parent_location"),
        F.lit("district").alias("level"),
        F.lit(0).cast("long").alias("population"),
    )
    clinics = customer.select(
        (F.col("c_custkey") + 1_000_000).cast("long").alias("id"),
        (F.col("c_nationkey") + 2_000).cast("long").alias("parent_location"),
        F.lit("clinic").alias("level"),
        (F.col("c_custkey") % 1000 + 100).cast("long").alias("population"),
    )
    adjacency = country.unionByName(regions).unionByName(nations).unionByName(clinics)
    flat = flatten_location_hierarchy(
        adjacency, levels=("clinic", "district", "region", "country")
    ).filter(F.col("level") == "clinic")
    return loc.population_rollup(
        flat, levels=("clinic", "district", "region", "country")
    )




@_register(
    "multirow_split",
    """
    SELECT CAST(c_custkey AS VARCHAR) || ':1' AS uuid,
           c_mktsegment AS "f./val"
    FROM customer
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR) || ':2', c_name FROM customer
    """,
)
def multirow_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # customer as a wide two-entity form: f1./val = segment, f2./val = name
    wide = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("cid"),
        F.col("c_mktsegment").alias("f1./val"),
        F.col("c_name").alias("f2./val"),
    )
    out = split_multiple_rows(
        wide, column_templates=["f$./val"], max_index=2, uuid_col="cid",
        keep_columns=[],
    )
    return out.select("uuid", F.col("`f./val`").alias("f./val"))




# --- J6: ray-casting containment, identical formula in both engines --------

_TRI = [(0.0, 0.0), (100.0, 0.0), (0.0, 100.0)]


_SQUARE = [(20.0, 20.0), (80.0, 20.0), (80.0, 80.0), (20.0, 80.0)]




def _ray_sql(x: str, y: str, verts: list[tuple[float, float]]) -> str:
    """Crossing-number containment as SQL (mirrors geo.point_in_polygon)."""
    terms = []
    n = len(verts)
    for i in range(n):
        xi, yi = verts[i]
        xj, yj = verts[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({yi} > {y}) <> ({yj} > {y})) AND "
            f"({x} < ({xj} - {xi}) * ({y} - {yi}) / ({yj} - {yi}) + {xi}) "
            f"THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"




@_register(
    "point_in_polygon",
    f"""
    SELECT CASE WHEN {_ray_sql('value', 'CAST(user_id % 100 AS DOUBLE)', _TRI)}
                THEN 'triangle'
                WHEN {_ray_sql('value', 'CAST(user_id % 100 AS DOUBLE)', _SQUARE)}
                THEN 'square'
           END AS located_in,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def point_in_polygon_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    points = events.select(
        F.col("event_id").alias("pid"),
        F.col("value").alias("x"),
        (F.col("user_id") % 100).cast("double").alias("y"),
    )
    polygons = spark.createDataFrame(
        [
            ("triangle", 1, [{"x": x, "y": y} for x, y in _TRI]),
            ("square", 2, [{"x": x, "y": y} for x, y in _SQUARE]),
        ],
        "name string, priority int, vertices array<struct<x:double,y:double>>",
    )
    located = locate_points(
        points, polygons, point_id_col="pid",
        x_col="x", y_col="y", poly_priority_col="priority",
    )
    return located.groupBy("located_in").agg(F.count(F.lit(1)).alias("n"))




# --- A5: render + topic fan-out over threshold-alert masters ---------------


@_register(
    "send_alerts_messages",
    """
    WITH buckets AS (
        SELECT event_type, user_id AS clinic,
               date_trunc('day', ts) AS period_start,
               MIN(CAST(event_id AS VARCHAR)) AS master
        FROM events
        WHERE event_type IN ('error', 'purchase')
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= 3
    ), r AS (
        SELECT master AS uuid, right(master, 6) AS alert_id,
               CASE event_type WHEN 'error' THEN 'err_daily'
                               ELSE 'buy_daily' END AS reason,
               clinic,
               CAST(clinic AS VARCHAR) AS clinic_s,
               CAST(period_start AS VARCHAR) AS date_s
        FROM buckets
    ), msg AS (
    SELECT uuid, alert_id, reason, clinic,
           CASE WHEN reason = 'buy_daily'
                THEN printf('Purchase alert %s: %s at clinic %s on %s',
                            alert_id, reason, clinic_s, date_s)
                ELSE printf('Alert %s: %s at clinic %s on %s',
                            alert_id, reason, clinic_s, date_s) END AS message,
           CASE WHEN reason = 'buy_daily'
                THEN printf('PURCHASE %s %s %s %s',
                            alert_id, reason, clinic_s, date_s)
                ELSE printf('ALERT %s %s %s %s',
                            alert_id, reason, clinic_s, date_s) END AS sms_message,
           CASE WHEN reason = 'buy_daily'
                THEN printf('<i>Purchase alert %s</i>: %s at clinic %s on %s',
                            alert_id, reason, clinic_s, date_s)
                ELSE printf('<b>Alert %s</b>: %s at clinic %s on %s',
                            alert_id, reason, clinic_s, date_s) END AS html_message,
           'Public Health Surveillance Alerts: #' || alert_id AS subject,
           CASE WHEN reason LIKE '%buy%' THEN 'sms' ELSE 'email,sms' END AS medium
    FROM r
    )
    SELECT uuid, alert_id, message, sms_message, html_message, subject,
           medium,
           'demo-' || loc || '-' || rsn AS topic
    FROM msg
    CROSS JOIN (SELECT UNNEST(['c', 'd', 'r', 'x']) AS lvl) levels,
    LATERAL (SELECT CASE lvl WHEN 'c' THEN CAST(clinic AS VARCHAR)
                             WHEN 'd' THEN CAST(clinic % 10 AS VARCHAR)
                             WHEN 'r' THEN CAST(clinic % 5 AS VARCHAR)
                             ELSE '1' END AS loc) l,
    LATERAL (SELECT UNNEST([reason, 'allDis']) AS rsn) rr
    """,
)
def send_alerts_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 template parity (reference send_alerts.py:17-31 +
    util/__init__.py:520-588): per-reason template selection renders
    SEPARATE text/sms/html fields, a subject line, and the medium list
    chosen by the first configured code contained in the alert reason —
    all chained-CASE format_string projections, zero Python in the loop.

    Also carries the topic fan-out certification (VERDICT r9 ask #2
    folded the former send_alerts_topics row in here): each rendered
    alert explodes to one row per ``demo-<loc>-<reason>`` topic across
    clinic/district/region/country × {reason, allDis}
    (util/__init__.py:459-492)."""
    events = _t(spark, sf_dir, "events").withColumn(
        "uuid", F.col("event_id").cast("string")
    )
    reps = []
    for etype, reason in [("error", "err_daily"), ("purchase", "buy_daily")]:
        found = al.threshold_alerts(
            events,
            var_predicate=F.col("event_type") == etype,
            clinic_col="user_id",
            date_col="ts",
            uuid_col="uuid",
            daily_limit=3,
        )
        reps.append(
            al.assign_representatives(found).withColumns(
                {
                    "alert": F.lit(True),
                    "alert_reason": F.lit(reason),
                    "district": F.col("clinic") % 10,
                    "region": F.col("clinic") % 5,
                    # DATE, not timestamp: renders as '2024-01-01' in both
                    # engines (DuckDB's date_trunc('day') returns DATE)
                    "date": F.to_date(F.col("period_start")),
                }
            )
        )
    rep = reps[0].unionByName(reps[1])
    rendered = render_alert_messages(
        rep,
        templates={
            "case": {
                "text": "Alert %s: %s at clinic %s on %s",
                "sms": "ALERT %s %s %s %s",
                "html": "<b>Alert %s</b>: %s at clinic %s on %s",
            },
            "purchase": {
                "text": "Purchase alert %s: %s at clinic %s on %s",
                "sms": "PURCHASE %s %s %s %s",
                "html": "<i>Purchase alert %s</i>: %s at clinic %s on %s",
            },
        },
        reason_templates={"buy_daily": "purchase"},
        alert_mediums={"buy": ["sms"], "DEFAULT": ["email", "sms"]},
    )
    fanned = topic_fan_out(
        rendered, prefix="demo",
        level_cols=("clinic", "district", "region"),
    )
    return fanned.select(
        "uuid",
        "alert_id",
        "message",
        "sms_message",
        "html_message",
        "subject",
        F.array_join(F.col("medium"), ",").alias("medium"),
        "topic",
    )




# --- V2 sub_match + V6 value rules over part/orders ------------------------

_SUBMATCH_RULES = [
    Rule(id="brass_1", method="sub_match", db_column="p_type",
         condition="BRASS,COPPER"),
    Rule(id="small_1", method="sub_match", db_column="p_type",
         condition="SMALL"),
    Rule(id="anod_tin", method="sub_match and match", db_column="p_type;p_size",
         condition="ANODIZED;5,10,15"),
]




@_register(
    "coding_sub_match",
    """
    SELECT var_id, COUNT(*) AS n FROM (
        SELECT 'brass_1' AS var_id FROM part
          WHERE p_type IN ('BRASS', 'COPPER')
             OR p_type LIKE '%BRASS%' OR p_type LIKE '%COPPER%'
        UNION ALL
        SELECT 'small_1' FROM part
          WHERE p_type = 'SMALL' OR p_type LIKE '%SMALL%'
        UNION ALL
        SELECT 'anod_tin' FROM part
          WHERE (p_type = 'ANODIZED' OR p_type LIKE '%ANODIZED%')
            AND CAST(p_size AS VARCHAR) IN ('5', '10', '15')
    ) GROUP BY 1
    """,
)
def coding_sub_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    coded = code_dataframe(part, _SUBMATCH_RULES)
    return (
        coded.select(F.explode(F.map_keys(F.col("variables"))).alias("var_id"))
        .groupBy("var_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )




@_register(
    "coding_value_date",
    """
    SELECT strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS submission_date,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1
    """,
)
def coding_value_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    rules = [
        Rule(id="submission_date", method="value", db_column="o_orderdate",
             condition="", calculation="date"),
    ]
    coded = code_dataframe(orders, rules)
    return (
        coded.select(
            F.element_at(F.col("variables"), "submission_date").alias(
                "submission_date"
            )
        )
        .groupBy("submission_date")
        .agg(F.count(F.lit(1)).alias("n"))
    )




# --- V5 calc with Variable.to_date (reg_8-style week arithmetic) -----------
# weeks-between-ship-and-order via the epi-epoch seconds translation
# (reference variable.py:321-367; epi day:0 → epoch offset 4 days).


@_register(
    "coding_calc_to_date",
    """
    SELECT CAST((epoch(l_shipdate)::BIGINT - 345600) // 604800
              - (epoch(o_orderdate)::BIGINT - 345600) // 604800 AS DOUBLE)
               AS weeks_diff,
           COUNT(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def coding_calc_to_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
    rule = Rule(
        id="weeks_diff",
        method="calc",
        db_column="l_shipdate,o_orderdate",
        condition="",
        calculation=(
            "int(Variable.to_date(l_shipdate)/604800)"
            " - int(Variable.to_date(o_orderdate)/604800)"
        ),
    )
    coded = code_dataframe(joined, [rule], epi_config="day:0")
    return (
        coded.select(
            F.element_at(F.col("variables"), "weeks_diff")
            .cast("double")
            .alias("weeks_diff")
        )
        .groupBy("weeks_diff")
        .agg(F.count(F.lit(1)).alias("n"))
    )




# --- V5 calc with a per-year dict epi config ------------------------------
# Reference variable.py:344-352: the epi-epoch offset depends on the DATE's
# year — the configured start's weekday for configured years, else the
# weekday of Jan 1 of that year.  1994 is configured to Mon Jan 3 (offset 4d),
# 1996 to Thu Jan 4 (offset 0d); unconfigured years fall back to Jan 1.


@_register(
    "coding_calc_to_date_dict",
    """
    WITH t AS (
        SELECT epoch(l_shipdate)::BIGINT AS ship_s,
               CASE year(l_shipdate)
                    WHEN 1994 THEN 345600
                    WHEN 1996 THEN 0
                    ELSE ((4 + isodow(make_date(year(l_shipdate), 1, 1)) - 1)
                          % 7) * 86400
               END AS off_s
        FROM lineitem
    )
    SELECT CAST((ship_s - off_s) // 604800 AS DOUBLE) AS ship_epi_week,
           COUNT(*) AS n
    FROM t
    GROUP BY 1
    """,
)
def coding_calc_to_date_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    lineitem = _t(spark, sf_dir, "lineitem")
    rule = Rule(
        id="ship_epi_week",
        method="calc",
        db_column="l_shipdate",
        condition="",
        calculation="int(Variable.to_date(l_shipdate)/604800)",
    )
    coded = code_dataframe(
        lineitem,
        [rule],
        epi_config={
            1994: _dt.datetime(1994, 1, 3),
            1996: _dt.datetime(1996, 1, 4),
        },
    )
    return (
        coded.select(
            F.element_at(F.col("variables"), "ship_epi_week")
            .cast("double")
            .alias("ship_epi_week")
        )
        .groupBy("ship_epi_week")
        .agg(F.count(F.lit(1)).alias("n"))
    )




# --- C4 multiple_link rules through the coding engine itself ---------------
# (last/first/count/any/all evaluated by code_dataframe over a link array —
# reference codes/to_codes.py:213-242.)

_LINK_RULES = [
    Rule(id="n_lines", method="value", db_column="l_orderkey", condition="",
         multiple_link="count", form="lines"),
    Rule(id="last_returned", method="match", db_column="l_returnflag",
         condition="R", multiple_link="last", form="lines"),
    Rule(id="first_cheap", method="between", db_column="l_extendedprice",
         condition="0,2000", calculation="l_extendedprice",
         multiple_link="first", form="lines"),
    Rule(id="any_returned", method="match", db_column="l_returnflag",
         condition="R", multiple_link="any", form="lines"),
    Rule(id="all_fulfilled", method="match", db_column="l_linestatus",
         condition="F", multiple_link="all", form="lines"),
]



_RANKED_CTE = """
    ranked AS (
        SELECT l_orderkey, l_returnflag, l_linestatus, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                   ORDER BY l_shipdate ASC, CAST(l_linenumber AS VARCHAR) ASC,
                            l_extendedprice ASC, l_returnflag ASC,
                            l_linestatus ASC) rn_a,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                   ORDER BY l_shipdate DESC, CAST(l_linenumber AS VARCHAR) DESC,
                            l_extendedprice DESC, l_returnflag DESC,
                            l_linestatus DESC) rn_d
        FROM lineitem
    )
"""




@_register(
    "coding_multiple_link",
    f"""
    WITH {_RANKED_CTE},
    per_order AS (
        SELECT l_orderkey,
               BOOL_OR(l_returnflag = 'R') AS any_r,
               BOOL_AND(l_linestatus = 'F') AS all_f,
               BOOL_OR(rn_d = 1 AND l_returnflag = 'R') AS last_r,
               BOOL_OR(rn_a = 1 AND l_extendedprice >= 0
                       AND l_extendedprice < 2000) AS first_cheap
        FROM ranked GROUP BY 1
    )
    SELECT var_id, COUNT(*) AS n FROM (
        SELECT 'n_lines' AS var_id FROM per_order
        UNION ALL SELECT 'last_returned' FROM per_order WHERE last_r
        UNION ALL SELECT 'first_cheap' FROM per_order WHERE first_cheap
        UNION ALL SELECT 'any_returned' FROM per_order WHERE any_r
        UNION ALL SELECT 'all_fulfilled' FROM per_order WHERE all_f
    ) GROUP BY 1
    """,
)
def coding_multiple_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    linked = add_links(
        orders, {"lineitem": lineitem}, [_ORDER_LINES_LINK],
        payload_columns={
            "lines": ["l_extendedprice", "l_returnflag", "l_linestatus"]
        },
    )
    coded = code_dataframe(linked, _LINK_RULES)
    return (
        coded.select(F.explode(F.map_keys(F.col("variables"))).alias("var_id"))
        .groupBy("var_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )




# --- C9 week-53 strategies (include_in_52 / include_in_1) ------------------

_S52_Y, _S52_W = epi_week_duckdb_sql("o_orderdate", "international", "include_in_52")


_S1_Y, _S1_W = epi_week_duckdb_sql("o_orderdate", "international", "include_in_1")




@_register(
    "epiweek_strategies",
    f"""
    SELECT {_S52_Y} AS y52, {_S52_W} AS w52,
           {_S1_Y} AS y1, {_S1_W} AS w1,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2, 3, 4
    """,
)
def epiweek_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    y52, w52 = epi_week_columns("o_orderdate", "international", "include_in_52")
    y1, w1 = epi_week_columns("o_orderdate", "international", "include_in_1")
    return (
        orders.select(
            y52.alias("y52"), w52.alias("w52"), y1.alias("y1"), w1.alias("w1")
        )
        .groupBy("y52", "w52", "y1", "w1")
        .agg(F.count(F.lit(1)).alias("n"))
    )



_PIPE_RULES = [
    Rule(id="pur_1", method="match", db_column="event_type",
         condition="purchase", calculation_group="etype", type="case"),
    Rule(id="val_low", method="between", db_column="value",
         condition="0,50", calculation="value", type="case"),
    Rule(id="clk_1", method="match", db_column="event_type",
         condition="click,view", calculation_group="etype", type="visit"),
    Rule(id="err_1", method="match", db_column="event_type",
         condition="error", calculation_group="etype", type="visit"),
]



_EP_Y, _EP_W = epi_week_duckdb_sql("ts", "day:0")




@_register(
    "pipeline_composed",
    f"""
    SELECT type, var_id, COUNT(*) AS n FROM (
        SELECT 'case' AS type, 'pur_1' AS var_id, ts FROM events
          WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'case', 'val_low', ts FROM events
          WHERE event_type = 'purchase'
            AND CAST(value AS VARCHAR) <> '' AND value >= 0 AND value < 50
        UNION ALL
        SELECT 'case', 'tot_1', ts FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'case', 'data_entry', ts FROM events
          WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'visit', 'clk_1', ts FROM events
          WHERE event_type IN ('click', 'view')
        UNION ALL
        SELECT 'visit', 'err_1', ts FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT 'visit', 'vis_1', ts FROM events
        UNION ALL
        SELECT 'visit', 'data_entry', ts FROM events
    )
    WHERE {_EP_Y} >= 2023
    GROUP BY 1, 2
    """,
)
def pipeline_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    specs = [
        DataTypeSpec(name="Case", type="case", form="events",
                     db_column="event_type", condition="purchase",
                     date="ts", var="tot_1", uuid="event_id"),
        DataTypeSpec(name="Visit", type="visit", form="events",
                     date="ts", var="vis_1", uuid="event_id"),
    ]
    data = surveillance_pipeline(
        {"events": events}, specs, _PIPE_RULES, links=None, epi_config="day:0"
    )
    return (
        data.filter(F.col("epi_year") >= 2023)
        .select("type", F.explode(F.map_keys(F.col("variables"))).alias("var_id"))
        .groupBy("type", "var_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )




# --- §3.3 implied API path: the coded `data` table registered as a view,
# consumed by plain spark.sql with map_contains_key/element_at — the exact
# query shape Meerkat API issues against the data table (model.py:125-128,
# GIN-indexed `variables ? :id` in Postgres).


@_register(
    "sql_api_cases",
    f"""
    SELECT {_EP_Y} AS epi_year, {_EP_W} AS epi_week,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def sql_api_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    specs = [
        DataTypeSpec(name="Case", type="case", form="events",
                     db_column="event_type", condition="purchase",
                     date="ts", var="tot_1", uuid="event_id"),
    ]
    data = surveillance_pipeline(
        {"events": events}, specs, _PIPE_RULES, links=None, epi_config="day:0"
    )
    data.createOrReplaceTempView("data")
    return spark.sql(
        """
        SELECT epi_year, epi_week,
               COUNT(*) AS n,
               ROUND(SUM(CAST(element_at(variables, 'pur_1') AS DOUBLE)
                         * CAST(value AS DOUBLE)), 2) AS sum_value
        FROM data
        WHERE map_contains_key(variables, 'pur_1')
        GROUP BY epi_year, epi_week
        """
    )




# --- F1 deterministic sampling: engine-reproducible hash sampling ----------

_HEX4_SQL = (
    "((strpos('0123456789abcdef', substr(md5('smp:' || CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5('smp:' || CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5('smp:' || CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5('smp:' || CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1))"
)




@_register(
    "deterministic_sample",
    f"""
    SELECT o_orderstatus AS status, COUNT(*) AS n
    FROM orders
    WHERE {_HEX4_SQL} < CAST(0.1 * 65536 AS INT)
    GROUP BY 1
    """,
)
def deterministic_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    sampled = qc.deterministic_sample(orders, "o_orderkey", 0.1)
    return sampled.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )




@_register(
    "links_self_union",
    """
    WITH ranked AS (
        SELECT l_orderkey,
               l_returnflag,
               l_shipdate,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                   ORDER BY l_shipdate ASC, CAST(l_linenumber AS VARCHAR) ASC,
                            l_returnflag ASC) rn_a,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                   ORDER BY l_shipdate DESC, CAST(l_linenumber AS VARCHAR) DESC,
                            l_returnflag DESC) rn_d,
               COUNT(*) OVER (PARTITION BY l_orderkey) n_lines
        FROM lineitem
    )
    SELECT f.l_orderkey AS o_orderkey,
           f.n_lines AS n_lines,
           CAST(f.l_shipdate AS DATE) AS first_ship,
           l.l_returnflag AS last_flag
    FROM ranked f
    JOIN ranked l ON f.l_orderkey = l.l_orderkey AND l.rn_d = 1
    WHERE f.rn_a = 1
    """,
)
def links_self_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (reference add_links.py:143-152): a base row that already carries
    link_data gets its prior envelope unioned into the freshly collected
    list before ordering.  Modeled as two incremental passes over disjoint
    slices of the linked form — the result must equal ONE batch pass over
    the full form (the oracle), or first/last/count silently diverge for
    re-emitted records."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    early = lineitem.filter(F.col("l_linenumber") <= 2)
    late = lineitem.filter(F.col("l_linenumber") > 2)
    payload = {"lines": ["l_returnflag", "l_shipdate"]}
    pass1 = add_links(orders, {"lineitem": early}, [_ORDER_LINES_LINK],
                      payload_columns=payload)
    pass2 = add_links(pass1, {"lineitem": late}, [_ORDER_LINES_LINK],
                      payload_columns=payload)
    first = link_aggregate(pass2, "lines", "first")
    last = link_aggregate(pass2, "lines", "last")
    return pass2.filter(F.size("link_lines") > 0).select(
        F.col("o_orderkey"),
        link_aggregate(pass2, "lines", "count").cast("bigint").alias("n_lines"),
        F.to_date(first["l_shipdate"]).alias("first_ship"),
        last["l_returnflag"].alias("last_flag"),
    )





# ---------------------------------------------------------------------------
# Oracle coverage for the remaining pytest-only SURVEY §2 operators:
# F5 clinic start-date filter, F7 import rules, F8 list flattening,
# J9 is_child hierarchy predicate.
# ---------------------------------------------------------------------------


@_register(
    "qc_clinic_start_filter",
    """
    WITH clinics AS (
        SELECT range AS deviceid,
               TIMESTAMP '2024-01-05' + INTERVAL 1 DAY * (range % 20)
                   AS start_date
        FROM range(50)
    ),
    data AS (
        SELECT event_type, user_id % 50 AS deviceid,
               strftime(ts, '%Y-%m-%d') AS sub
        FROM events
    )
    SELECT event_type, COUNT(*) AS n_kept
    FROM data d LEFT JOIN clinics c USING (deviceid)
    WHERE c.start_date IS NULL OR CAST(sub AS TIMESTAMP) >= c.start_date
    GROUP BY 1
    """,
)
def qc_clinic_start_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — rows submitted before their clinic's start date are dropped
    (reference quality_control.py:179-183); the clinic dim is broadcast,
    the fact table never shuffles."""
    clinics = spark.range(0, 50, 1, 1).select(
        F.col("id").alias("deviceid"),
        F.to_timestamp(
            F.date_add(
                F.lit("2024-01-05").cast("date"), (F.col("id") % 20).cast("int")
            )
        ).alias("start_date"),
    )
    data = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 50).alias("deviceid"),
        F.date_format("ts", "yyyy-MM-dd").alias("SubmissionDate"),
    )
    kept = qc.clinic_start_date_filter(
        data, clinics, device_col="deviceid",
        submission_col="SubmissionDate", start_date_col="start_date",
    )
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))




_IMPORT_RULES = [
    Rule(id="keep_final", method="match", db_column="o_orderstatus",
         condition="F", category=["discard"]),
    Rule(id="price_band", method="between", db_column="o_totalprice",
         condition="1000,200000", calculation="o_totalprice"),
    Rule(id="prio_fix", method="match", db_column="o_orderpriority",
         condition="1-URGENT", category=["replace:o_orderstatus"]),
]




@_register(
    "qc_import_rules",
    """
    WITH kept AS (SELECT * FROM orders WHERE o_orderstatus = 'F'),
    cleaned AS (
        SELECT CASE WHEN o_totalprice >= 1000 AND o_totalprice < 200000
                    THEN o_totalprice END AS price,
               CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderpriority
                    ELSE o_orderstatus END AS prio
        FROM kept
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_price,
           CAST(SUM(CASE WHEN prio = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_replaced
    FROM cleaned
    """,
)
def qc_import_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — type="import" QC rules (reference quality_control.py:116-139):
    discard on one rule, null-out a failing cell on another, replace from
    a sibling column on a third — all compiled into sequential projections,
    no Python per row."""
    orders = _t(spark, sf_dir, "orders")
    cleaned = qc.apply_import_rules(orders, _IMPORT_RULES)
    return cleaned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)
        ).alias("n_null_price"),
        F.sum(
            F.when(F.col("o_orderpriority") == "F", 1).otherwise(0)
        ).alias("n_replaced"),
    )




@_register(
    "qc_flatten_lists",
    """
    SELECT doc_id,
           array_to_string(string_split(text, ' '), ',') AS flat
    FROM documents WHERE doc_id <= 200
    """,
)
def qc_flatten_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — array-valued cells → comma-joined strings (reference
    quality_control.py:142-148)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    arr = docs.select("doc_id", F.split("text", " ").alias("flat"))
    return qc.flatten_list_columns(arr, ["flat"]).select("doc_id", "flat")




@_register(
    "locations_is_child",
    """
    SELECT c_custkey, p.range AS probe,
           (p.range = c_nationkey OR p.range = r_regionkey) AS is_desc
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    CROSS JOIN range(5) p
    WHERE c_custkey <= 200
    """,
)
def locations_is_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — hierarchy membership over the flattened location dim
    (reference util/__init__.py:49-72): a probed ancestor id is a match
    iff it appears in any of the row's level columns."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    flat = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            F.col("c_nationkey").alias("nation_id"),
            F.col("r_regionkey").alias("region_id"),
        )
    )
    probes = spark.range(0, 5, 1, 1).select(F.col("id").alias("probe"))
    return flat.crossJoin(F.broadcast(probes)).select(
        "c_custkey",
        "probe",
        loc.is_child("probe", ["nation_id", "region_id"]).alias("is_desc"),
    )





@_register(
    "qc_date_validity",
    """
    WITH data AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 7 = 0 THEN 'not-a-date'
                    ELSE strftime(o_orderdate, '%Y-%m-%d') END AS visit_date
        FROM orders
    )
    SELECT o_orderpriority, COUNT(*) AS n_kept
    FROM data WHERE visit_date <> 'not-a-date'
    GROUP BY 1
    """,
)
def qc_date_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — the date column must parse to be kept (reference
    quality_control.py:190-245): every 7th order's date string is corrupted
    deterministically; the filter must drop exactly those rows.  The oracle
    knows which rows are unparseable by construction — the Spark side has
    to discover it through the multi-format parser."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .alias("visit_date"),
    )
    kept = qc.date_validity_filter(orders, "visit_date")
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_kept")
    )




@_register(
    "deadletter_split",
    """
    SELECT 'good' AS side, COUNT(*) AS n FROM orders
    WHERE NOT COALESCE(o_totalprice >= 250000, FALSE)
    UNION ALL
    SELECT 'bad' AS side, COUNT(*) AS n FROM orders
    WHERE o_totalprice >= 250000
    """,
)
def deadletter_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 — rows failing validation quarantine into a dead-letter frame
    (reference pipeline.py:91-109 step_failures); both sides of the split
    are counted (the dead-letter __error_ts stamp is excluded — wall-clock
    is not oracle-comparable)."""
    from meerkat_abacus_spark.sinks.writers import dead_letter_split

    orders = _t(spark, sf_dir, "orders")
    good, bad = dead_letter_split(orders, F.col("o_totalprice") >= 250000)
    return good.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("good").alias("side"), "n"
    ).unionByName(
        bad.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("bad").alias("side"), "n"
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-baseline alert: this week's count vs the same epi-week in prior
# years — the classic surveillance excess-signal beyond the fixed-threshold
# (A1/A2) and week-over-week (A3) alerts already covered.
# ---------------------------------------------------------------------------


@_register(
    "alert_seasonal_baseline",
    f"""
    WITH weekly AS (
        SELECT r.r_name AS region,
               {_EPI_Y_SQL} AS epi_year,
               {_EPI_W_SQL} AS epi_week,
               COUNT(*) AS n
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY 1, 2, 3
    ),
    hist AS (
        SELECT region, epi_year, epi_week, n,
               ROUND(AVG(n) OVER (PARTITION BY region, epi_week
                     ORDER BY epi_year
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2)
                   AS expected
        FROM weekly
    )
    SELECT region, epi_year, epi_week, n, expected,
           n >= 1.5 * expected AS flagged
    FROM hist WHERE expected IS NOT NULL
    """,
)
def alert_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal excess detection: each (region, epi-week)'s count compared
    to the average of the SAME epi-week across all prior years; weeks at
    >= 1.5x their seasonal baseline are flagged.

    Scale shape: the fact collapses to region x epi-week x year in one
    partial-aggregated groupBy; the baseline window then sorts only
    |regions| x 53 x |years| rows.  The flag compares against the ROUNDED
    expectation so the cross-engine boolean cannot flip on summation-order
    noise."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    epi_year, epi_week = epi_week_columns("o_orderdate", "day:0")
    # customer is SF-growing: no broadcast hint (AQE promotes when small).
    weekly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .withColumns({"epi_year": epi_year, "epi_week": epi_week})
        .groupBy(
            F.col("r_name").alias("region"), "epi_year", "epi_week"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy("region", "epi_week")
        .orderBy("epi_year")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = weekly.withColumn("expected", F.round(F.avg("n").over(w), 2))
    return hist.filter(F.col("expected").isNotNull()).select(
        "region",
        "epi_year",
        "epi_week",
        "n",
        "expected",
        (F.col("n") >= 1.5 * F.col("expected")).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Fuzzy record linkage: blocked edit-distance matching.  The reference's
# links are exact-key joins (J1-J4); real registries also need typo-tolerant
# matching, which at 100 TB must be blocked — never all-pairs levenshtein.
# ---------------------------------------------------------------------------


@_register(
    "fuzzy_name_linkage",
    """
    WITH blocked AS (
        SELECT c_custkey AS id, c_name AS name, c_nationkey,
               substr(c_name, 10, 7) AS blk
        FROM customer
    ),
    ranked AS (
        SELECT b.*, ROW_NUMBER() OVER (
            PARTITION BY blk
            ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
        FROM blocked b
    ),
    guarded AS (SELECT * FROM ranked WHERE rn <= 1000)
    SELECT a.blk AS block_key,
           COUNT(*) AS n_pairs,
           MIN(a.id) AS min_id,
           MAX(b.id) AS max_id
    FROM guarded a JOIN guarded b
      ON a.blk = b.blk AND a.id < b.id
    WHERE levenshtein(a.name, b.name) <= 1
    GROUP BY 1
    """,
)
def fuzzy_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant linkage candidates: customers whose names are within
    edit distance 1, blocked on a name prefix so the comparison is an
    equi-join on the block key with levenshtein run only INSIDE blocks —
    the blocking+verify shape every scalable fuzzy matcher uses (same
    discipline as the MinHash/SimHash families, different similarity).

    Scale shape: the block key is the shuffle key; per-block pair counts
    are bounded by block cardinality (the name's thousands-prefix, ~100
    rows on this data), AND — because data at 100 TB always finds a hot
    block (one shared surname / placeholder name) — an over-cap guard
    bounds BOTH self-join inputs BEFORE the pair join, the pre-join cap
    discipline of minhash_lsh_candidates and r11's basket_pairs fix.
    r12 upgraded the policy from SKIP to SAMPLE (dedup._apply_block_cap):
    a hot block keeps a deterministic md5-ordered ≤1000-member subset —
    cap²/n² of its pairs instead of zero — and the window's shuffle/sort
    on blk is the SAME exchange the pair self-join needs, with
    WindowGroupLimit bounding hot blocks map-side.  The identical
    row_number guard is in the oracle SQL, so the certified semantics
    include it.  Aggregated per block for a compact oracle surface.

    Measured recall (round-12 scale run, VERDICT r11 ask #2): no natural
    block exceeds the cap at that scale (max ~100 members, so the policy
    change is invisible on natural data); on a planted 1,500-member hot
    block the old skip policy lost an estimated 18.6k edit-distance-1 pairs
    (sampled true rate 0.0165),
    while sample recovers ~44% of them (≈ cap²/n²), every under-cap
    block verified identical.  A persistently hot production block
    (placeholder names) still deserves a dedicated pass — the sample
    keeps its candidates flowing at bounded cost in the meantime."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.substring("c_name", 10, 7).alias("blk"),
    )
    guarded = (
        dd._apply_block_cap(
            cust.withColumn("block", F.col("blk")),
            1000,
            policy="sample",
        )
        .drop("block")
    )
    pairs = (
        guarded.alias("a")
        .join(
            guarded.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 1)
    )
    return pairs.groupBy(F.col("a.blk").alias("block_key")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.col("a.id")).alias("min_id"),
        F.max(F.col("b.id")).alias("max_id"),
    )
