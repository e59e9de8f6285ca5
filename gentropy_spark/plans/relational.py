"""Relational/analytics core queries (SURVEY §2.A).

These exercise the engine's scan → filter → join → aggregate spine on
the TPC-H-shaped tables. Design rules for oracle-exactness:

- Every SUM over doubles is ``functions.exact.exact_sum`` (the one
  exact sum discipline, described there).
- Every average is decimal-sum / count in double.
- Quantile/corr-style statistics are rounded to 6 dp on both sides.
- Tie-breaking orderings are always total (include a unique key).

Scale notes: dimension tables are broadcast explicitly; fact scans
carry pushed filters (verified in tests/test_plans.py); aggregations
are partial-agg friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gentropy_spark.functions.arrays import HARMONIC_NORM, harmonic_sum
from gentropy_spark.functions.exact import exact_decimal_sum, exact_sum
from gentropy_spark.operators.reshape import long_to_wide, top_k_per_group, wide_to_long
from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


# --- A1: pricing summary (TPC-H Q1 shape) --------------------------------
@prepared
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(charge).alias("sum_charge"),
            (exact_sum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            (exact_sum(F.col("l_extendedprice")) / F.count("*")).alias("avg_price"),
            (exact_sum(F.col("l_discount")) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# --- A2: shipping priority (TPC-H Q3 shape) ------------------------------
@prepared
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    # orders/customer scale with the fact table — no explicit broadcast
    # (AQE auto-broadcasts below threshold at test SF; shuffles at 100 TB).
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q3_SQL = """
SELECT
  l_orderkey,
  CAST(o_orderdate AS DATE) AS o_orderdate,
  o_orderpriority,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- A3: local supplier volume (TPC-H Q5 shape) --------------------------
@prepared
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    # True dims (region/nation/supplier) broadcast; orders/customer are
    # fact-scaled — join order puts the selective orders filter first and
    # lets AQE pick broadcast vs shuffle by runtime size.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


Q5_SQL = """
SELECT
  n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# --- A4: top-k per group --------------------------------------------------
def q_top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_cols=["o_custkey"],
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )


TOP_K_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_group
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS INT) AS rank_in_group
  FROM orders
)
WHERE rank_in_group <= 3
"""


# --- A5: wide -> long melt ------------------------------------------------
MELT_VARS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_wide_to_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return wide_to_long(
        li,
        id_vars=["l_orderkey", "l_linenumber"],
        value_vars=MELT_VARS,
    )


WIDE_TO_LONG_SQL = " UNION ALL ".join(
    f"SELECT l_orderkey, l_linenumber, '{v}' AS attribute, "
    f"CAST({v} AS DOUBLE) AS value FROM lineitem"
    for v in MELT_VARS
)


# --- A6: long -> wide pivot ----------------------------------------------
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return long_to_wide(
        read_table(spark, sf_dir, "events"),
        id_vars=["user_id"],
        var_col="event_type",
        value_col="value",
        value_list=EVENT_TYPES,
        agg=exact_sum,
    )


PIVOT_SQL = (
    "SELECT user_id, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(38,6)) END) "
        f"AS DOUBLE) AS {t}"
        for t in EVENT_TYPES
    )
    + " FROM events GROUP BY user_id"
)


# --- A8: quantile profile -------------------------------------------------
def q_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    pct = F.expr("percentile(c_acctbal, array(0.25, 0.5, 0.75))")
    return cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.round(F.min("c_acctbal"), 6).alias("min_bal"),
        F.round(pct.getItem(0), 6).alias("p25_bal"),
        F.round(pct.getItem(1), 6).alias("p50_bal"),
        F.round(pct.getItem(2), 6).alias("p75_bal"),
        F.round(F.max("c_acctbal"), 6).alias("max_bal"),
    )


DECILE_SQL = """
SELECT
  c_mktsegment,
  COUNT(*) AS n_customers,
  ROUND(MIN(c_acctbal), 6) AS min_bal,
  ROUND(quantile_cont(c_acctbal, 0.25), 6) AS p25_bal,
  ROUND(quantile_cont(c_acctbal, 0.50), 6) AS p50_bal,
  ROUND(quantile_cont(c_acctbal, 0.75), 6) AS p75_bal,
  ROUND(MAX(c_acctbal), 6) AS max_bal
FROM customer
GROUP BY c_mktsegment
"""


# --- A7: harmonic sum scoring --------------------------------------------
def q_harmonic_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, type) harmonic sum of normalised event values.

    Reference: common/spark.py:724 ``calculate_harmonic_sum`` — used
    for evidence-score aggregation in the L2G/association pipelines.
    """
    ev = read_table(spark, sf_dir, "events")
    arrs = ev.groupBy("user_id", "event_type").agg(
        F.collect_list((F.col("value") / 300.0)).alias("scores")
    )
    return arrs.select(
        "user_id",
        "event_type",
        F.size("scores").alias("n_scores"),
        F.round(harmonic_sum(F.col("scores")), 6).alias("harmonic_score"),
    )


HARMONIC_SQL = f"""
WITH arrs AS (
  SELECT user_id, event_type, list(value / 300.0) AS scores
  FROM events GROUP BY 1, 2
),
sorted AS (
  SELECT user_id, event_type, CAST(len(scores) AS INT) AS n_scores,
         list_reverse_sort(scores) AS s
  FROM arrs
)
SELECT user_id, event_type, n_scores,
  ROUND(list_sum(list_transform(generate_series(1, len(s)),
                                i -> s[i] / (i * i))) / {HARMONIC_NORM!r}, 6)
    AS harmonic_score
FROM sorted
"""


REGISTRY: dict[str, QuerySpec] = {
    "harmonic_sum": QuerySpec(q_harmonic_sum, HARMONIC_SQL),
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL),
    "q5_local_supplier": QuerySpec(q5_local_supplier, Q5_SQL),
    "top_k_per_group": QuerySpec(q_top_k_per_group, TOP_K_SQL),
    "wide_to_long": QuerySpec(q_wide_to_long, WIDE_TO_LONG_SQL),
    "pivot_wide": QuerySpec(q_pivot_wide, PIVOT_SQL),
    "q_decile_stats": QuerySpec(q_decile_stats, DECILE_SQL),
}


# --- component-set signature matching ------------------------------------
def q_complex_set_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group entities by identical component sets.

    Reference: dataset/molecular_complex.py — aptamers are annotated
    with a molecularComplexId when their measured UniProt ID set
    matches a complex's component set. The canonical mechanism is a
    set-equality join: canonicalise each side's set (sorted, joined)
    and equi-join/group on the signature. Here: customers grouped by
    the exact set of suppliers that served their orders.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    sigs = pairs.groupBy("o_custkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("l_suppkey"))).alias(
            "supplier_sig"
        ),
        F.countDistinct("l_suppkey").alias("set_size"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("supplier_sig")
    return sigs.select(
        "o_custkey",
        "supplier_sig",
        "set_size",
        F.count("*").over(w).alias("n_custs_same_set"),
    )


COMPLEX_SET_SQL = """
WITH pairs AS (
  SELECT DISTINCT o_custkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
sigs AS (
  SELECT o_custkey,
         array_to_string(list_sort(list(l_suppkey)), ',') AS supplier_sig,
         COUNT(DISTINCT l_suppkey) AS set_size
  FROM pairs GROUP BY o_custkey
)
SELECT o_custkey, supplier_sig, set_size,
       COUNT(*) OVER (PARTITION BY supplier_sig) AS n_custs_same_set
FROM sigs
"""


REGISTRY["complex_set_match"] = QuerySpec(q_complex_set_match, COMPLEX_SET_SQL)


# --- A10: as-of join (time-series point-in-time lookup) -------------------
@prepared
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join over the event stream (SURVEY A10).

    For every observation event (odd event_id), attach the most recent
    reference event (even event_id) of the SAME user at or before its
    timestamp — the canonical feature-backfill / point-in-time-correct
    lookup of a training-data pipeline. Spark has no ASOF JOIN
    operator; a range join would nested-loop. Instead: union both
    sides tagged, ONE window sort per user, and last-non-null carries
    the reference forward — a single shuffle on user_id, linear in
    rows, identical plan shape at any scale. Ties (reference exactly
    at the observation's timestamp) match, with the largest reference
    event_id winning among equal timestamps (total order, both
    engines).
    """
    from pyspark.sql import Window

    from gentropy_spark.sources.readers import read_table, ts_micros

    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        ts_micros(ev).alias("pos"),
        "value",
        (F.col("event_id") % 2 == 0).alias("is_ref"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("pos"),
            F.col("is_ref").cast("int").desc(),  # refs sort before obs at same pos
            F.col("event_id"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref_pos = F.when(F.col("is_ref"), F.col("pos"))
    ref_id = F.when(F.col("is_ref"), F.col("event_id"))
    ref_val = F.when(F.col("is_ref"), F.col("value"))
    joined = base.select(
        "event_id",
        "user_id",
        "pos",
        "value",
        "is_ref",
        F.last(ref_pos, ignorenulls=True).over(w).alias("ref_pos"),
        F.last(ref_id, ignorenulls=True).over(w).alias("ref_event_id"),
        F.last(ref_val, ignorenulls=True).over(w).alias("ref_value"),
    )
    return joined.filter(~F.col("is_ref")).select(
        "event_id",
        "user_id",
        "pos",
        "value",
        "ref_event_id",
        "ref_pos",
        F.round(F.col("value") - F.col("ref_value"), 6).alias("delta_value"),
        (F.col("pos") - F.col("ref_pos")).alias("staleness_us"),
    )


# Same union-and-carry-forward algorithm (DuckDB's native ASOF JOIN
# cannot express the equal-timestamp tie-break deterministically).
ASOF_SQL = """
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS pos, value,
         event_id % 2 = 0 AS is_ref
  FROM events
),
carried AS (
  SELECT *,
         last_value(CASE WHEN is_ref THEN pos END IGNORE NULLS)
           OVER w AS ref_pos,
         last_value(CASE WHEN is_ref THEN event_id END IGNORE NULLS)
           OVER w AS ref_event_id,
         last_value(CASE WHEN is_ref THEN value END IGNORE NULLS)
           OVER w AS ref_value
  FROM base
  WINDOW w AS (PARTITION BY user_id
               ORDER BY pos, CASE WHEN is_ref THEN 0 ELSE 1 END, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, pos, value, ref_event_id, ref_pos,
       ROUND(value - ref_value, 6) AS delta_value,
       pos - ref_pos AS staleness_us
FROM carried WHERE NOT is_ref
"""


REGISTRY["asof_join"] = QuerySpec(q_asof_join, ASOF_SQL)


# --- A11: KMV distinct-count sketch ---------------------------------------
KMV_K = 64


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch per group (SURVEY A11).

    K-minimum-values: keep the K smallest distinct hash values of the
    key per group; with the keyspace M, ``(K-1)·M / h_K`` estimates the
    distinct count (exact when fewer than K values survive). Unlike
    HLL (Spark's approx_count_distinct), the sketch is built on the
    cross-engine polynomial hash, so it is bit-deterministic and fully
    value-hash oracle-checkable — and the K-minima set is mergeable
    across partitions/days exactly like HLL registers (union = re-take
    K smallest), which is what a 100 TB rollup needs. The exact count
    rides along on the same shuffle for an observable error column.
    """
    from pyspark.sql import Window

    from gentropy_spark.functions.xhash import M1, poly_hash

    ev = read_table(spark, sf_dir, "events")
    hashed = (
        ev.select("event_type", F.col("user_id").cast("string").alias("uk"))
        .withColumn("h", poly_hash("uk"))
        .groupBy("event_type", "h")
        .agg(F.count_distinct("uk").alias("n_keys"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("rk") <= KMV_K, F.col("n_keys"))).alias("_kept_keys"),
            F.max(F.when(F.col("rk") <= KMV_K, F.col("h"))).alias("kth_min"),
            F.count("*").alias("n_hashes"),
            F.sum("n_keys").alias("exact_distinct"),
        )
        .select(
            "event_type",
            "kth_min",
            "exact_distinct",
            F.when(F.col("n_hashes") < KMV_K, F.col("_kept_keys").cast("double"))
            .otherwise(
                F.round(F.lit(KMV_K - 1) * F.lit(float(M1)) / F.col("kth_min"), 6)
            )
            .alias("est_distinct"),
        )
    )


def _kmv_sql() -> str:
    from gentropy_spark.functions.xhash import M1, poly_hash_sql

    return f"""
WITH hashed AS (
  SELECT event_type, {poly_hash_sql("uk")} AS h, COUNT(DISTINCT uk) AS n_keys
  FROM (SELECT event_type, CAST(user_id AS VARCHAR) AS uk FROM events)
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM hashed
),
agg AS (
  SELECT event_type,
         SUM(CASE WHEN rk <= {KMV_K} THEN n_keys END) AS _kept_keys,
         MAX(CASE WHEN rk <= {KMV_K} THEN h END) AS kth_min,
         COUNT(*) AS n_hashes,
         -- BIGINT cast: DuckDB SUM(BIGINT) yields HUGEINT, which the
         -- pandas bridge converts to float64/object and breaks the
         -- driver's value-hash parity vs Spark's int64.
         CAST(SUM(n_keys) AS BIGINT) AS exact_distinct
  FROM ranked GROUP BY 1
)
SELECT event_type, kth_min, exact_distinct,
       CASE WHEN n_hashes < {KMV_K} THEN CAST(_kept_keys AS DOUBLE)
            ELSE ROUND({KMV_K - 1} * {float(M1)!r} / kth_min, 6) END AS est_distinct
FROM agg
"""


# --- A12: SCD2 state intervals --------------------------------------------
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) intervals from an event log.

    Collapse each user's event stream into contiguous state intervals:
    a row per state CHANGE with [valid_from, valid_to) bounds, version
    number and a current-row marker — the standard dimension-table
    build every warehouse pipeline runs over CDC streams. One shuffle
    on user_id; both windows share the partitioning so Catalyst plans
    a single exchange + sort.
    """
    from pyspark.sql import Window

    from gentropy_spark.sources.readers import read_table, ts_micros

    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        ts_micros(ev).alias("pos"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("pos", "event_id")
    marked = base.withColumn("prev_state", F.lag("state").over(w))
    changes = marked.filter(
        F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state"))
    )
    w2 = Window.partitionBy("user_id").orderBy("pos", "event_id")
    return changes.select(
        "user_id",
        "state",
        F.col("pos").alias("valid_from"),
        (F.lead("pos").over(w2) - 1).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
        F.lead("pos").over(w2).isNull().alias("is_current"),
    )


SCD2_SQL = """
WITH base AS (
  SELECT user_id, event_type AS state, epoch_us(ts) AS pos, event_id
  FROM events
),
marked AS (
  SELECT *, LAG(state) OVER (PARTITION BY user_id ORDER BY pos, event_id)
            AS prev_state
  FROM base
),
changes AS (
  SELECT * FROM marked WHERE prev_state IS NULL OR prev_state <> state
)
SELECT user_id, state, pos AS valid_from,
       LEAD(pos) OVER w - 1 AS valid_to,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       LEAD(pos) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY pos, event_id)
"""


REGISTRY["kmv_distinct"] = QuerySpec(q_kmv_distinct, _kmv_sql())
REGISTRY["scd2_intervals"] = QuerySpec(q_scd2_intervals, SCD2_SQL)


# --- A13: ROLLUP aggregation (grouping-sets family) -----------------------
def q_rollup_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotal aggregation with ROLLUP (SURVEY A13).

    (flag, status) → (flag) → grand total in ONE pass: Catalyst expands
    grouping sets into a single Expand + hash aggregate, so the
    subtotal levels share the scan and the shuffle instead of a
    UNION-of-aggregates re-reading the table per level — the 100 TB
    shape for report rollups. ``grouping_id`` disambiguates real NULL
    keys from subtotal rows.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_rows"),
            # Sum in exact decimal, emit double (the q1 pattern): a
            # decimal(38,6) output surfaces as pandas `object` while
            # DuckDB's DECIMAL converts to float64 — identical values,
            # divergent physical dtype, failed driver hash.
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty", "sum_price"
        )
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --- A14: CDC merge/upsert ------------------------------------------------
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics as a full-outer join (SURVEY A14).

    Apply a change set to a dimension table and report per-key actions
    (insert / update / unchanged) — the CDC-apply step of every
    warehouse load, expressed engine-agnostically (no Delta/Iceberg
    dependency): one full outer join on the key, action decided
    column-wise. The change set here is derived from orders (total
    order value per customer, with synthetic brand-new keys for the
    insert path).
    """
    # Round in exact decimal, emit double (the q1 pattern): decimal
    # outputs surface as pandas `object` vs the oracle's float64 and
    # fail the driver hash despite identical values.
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.round(F.col("c_acctbal").cast("decimal(38,6)"), 2)
        .cast("double")
        .alias("old_balance"),
    )
    upd = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey"))
        .agg(
            F.round(exact_decimal_sum(F.col("o_totalprice")), 2)
            .cast("double")
            .alias("new_balance")
        )
        .select(
            F.when(
                F.col("o_custkey") % 97 == 0, F.col("o_custkey") + 1_000_000
            )
            .otherwise(F.col("o_custkey"))
            .alias("key"),
            "new_balance",
        )
    )
    merged = cust.join(upd, on="key", how="full_outer")
    return merged.select(
        "key",
        "old_balance",
        "new_balance",
        F.when(F.col("old_balance").isNull(), F.lit("insert"))
        .when(F.col("new_balance").isNull(), F.lit("unchanged"))
        .otherwise(F.lit("update"))
        .alias("action"),
        F.coalesce(F.col("new_balance"), F.col("old_balance")).alias("balance"),
    )


MERGE_UPSERT_SQL = """
WITH cust AS (
  SELECT c_custkey AS key,
         CAST(ROUND(CAST(c_acctbal AS DECIMAL(38,6)), 2) AS DOUBLE)
           AS old_balance
  FROM customer
),
upd AS (
  SELECT CASE WHEN o_custkey % 97 = 0 THEN o_custkey + 1000000
              ELSE o_custkey END AS key,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
           AS new_balance
  FROM orders GROUP BY o_custkey
)
SELECT COALESCE(cust.key, upd.key) AS key, old_balance, new_balance,
       CASE WHEN old_balance IS NULL THEN 'insert'
            WHEN new_balance IS NULL THEN 'unchanged'
            ELSE 'update' END AS action,
       COALESCE(new_balance, old_balance) AS balance
FROM cust FULL OUTER JOIN upd ON cust.key = upd.key
"""


REGISTRY["rollup_aggregate"] = QuerySpec(q_rollup_aggregate, ROLLUP_SQL)
REGISTRY["merge_upsert"] = QuerySpec(q_merge_upsert, MERGE_UPSERT_SQL)


# --- A15: one-pass table profile ------------------------------------------
_PROFILE_NUM_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_PROFILE_STR_COLS = ("l_returnflag", "l_linestatus")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of lineitem in ONE scan (SURVEY A15).

    The ANALYZE/data-quality surface: null count, exact distinct count,
    numeric min/max per column — aggregated in a single pass (Catalyst
    expands the multi-distinct into one Expand + aggregate, not one
    scan per column) and unpivoted to a row per column. At 100 TB this
    is the profile you run before choosing join strategies; exact
    distincts here because the estimates must be engine-reproducible
    (the KMV sketch in A11 is the approximate variant).
    """
    li = read_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for c in (*_PROFILE_NUM_COLS, *_PROFILE_STR_COLS):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
    for c in _PROFILE_NUM_COLS:
        aggs.append(F.min(F.col(c)).cast("double").alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"{c}__max"))
    one = li.agg(*aggs)
    stack_args = []
    for c in (*_PROFILE_NUM_COLS, *_PROFILE_STR_COLS):
        is_num = c in _PROFILE_NUM_COLS
        stack_args.append(
            f"'{c}', {c}__nulls, {c}__distinct, "
            + (f"{c}__min, {c}__max" if is_num else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)")
        )
    n = len(_PROFILE_NUM_COLS) + len(_PROFILE_STR_COLS)
    return one.selectExpr(
        "n_rows",
        f"stack({n}, {', '.join(stack_args)}) AS "
        "(col_name, n_nulls, n_distinct, min_val, max_val)",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


def _profile_sql() -> str:
    parts = []
    for c in _PROFILE_NUM_COLS:
        parts.append(f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_val, CAST(MAX({c}) AS DOUBLE) AS max_val
FROM lineitem""")
    for c in _PROFILE_STR_COLS:
        parts.append(f"""
SELECT '{c}', COUNT(*),
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT {c}), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM lineitem""")
    return "\nUNION ALL\n".join(parts)


# --- A16: join-key skew profile -------------------------------------------
SKEW_TOP_N = 20


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnosis for a join key (SURVEY A16).

    Before shuffling 100 TB on a key, find the keys that would melt a
    partition: per-key row counts, share of table, and the ratio to
    the mean key load — the inputs to a salting/AQE-skew decision.
    Partial-agg groupBy; the totals ride along via a broadcast-joined
    1-row aggregate, not a second scan.
    """
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count("*").alias("n_rows")
    )
    totals = per_key.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count("*").alias("n_keys"),
    )
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key"))
    return (
        per_key.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SKEW_TOP_N)
        .crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            "rank",
            F.round(F.col("n_rows") / F.col("total_rows"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.col("n_keys") / F.col("total_rows"), 6
            ).alias("x_mean"),
        )
    )


SKEW_SQL = f"""
WITH per_key AS (
  SELECT l_suppkey AS key, COUNT(*) AS n_rows FROM lineitem GROUP BY 1
),
totals AS (SELECT SUM(n_rows) AS total_rows, COUNT(*) AS n_keys FROM per_key),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, key) AS INT) AS rank
  FROM per_key
)
SELECT key, n_rows, rank,
       ROUND(CAST(n_rows AS DOUBLE) / total_rows, 6) AS share,
       ROUND(CAST(n_rows AS DOUBLE) * n_keys / total_rows, 6) AS x_mean
FROM ranked, totals
WHERE rank <= {SKEW_TOP_N}
"""


REGISTRY["table_profile"] = QuerySpec(q_table_profile, _profile_sql())
REGISTRY["key_skew_profile"] = QuerySpec(q_key_skew_profile, SKEW_SQL)


# --- A18: fixed-bin histogram ---------------------------------------------
HIST_BIN_WIDTH = 25.0


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event type — the
    distribution half of the profiling surface (table_profile covers
    moments/extremes). Bin id by integer division: one partial-agg
    groupBy, bins mergeable across partitions/days by construction."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.floor(F.col("value") / HIST_BIN_WIDTH).cast("long").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * HIST_BIN_WIDTH).alias("bin_lo"),
            "n",
        )
    )


HIST_SQL = f"""
SELECT event_type, CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
       CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS BIGINT) * {HIST_BIN_WIDTH} AS bin_lo,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


REGISTRY["value_histogram"] = QuerySpec(q_value_histogram, HIST_SQL)


# --- A19: burst detection -------------------------------------------------
BURST_WINDOW_US = 86_400_000_000  # daily rate windows
BURST_FACTOR = 2.0  # a day at >= 2x the user's mean rate is a burst


def q_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rate-burst days (SURVEY A19): daily event counts
    against the user's own mean daily rate — the anomaly shape behind
    hot-key alerts, crawler-traffic spikes and QC drift flags. Two
    partial-agg aggregations sharing the user axis; the per-user
    baseline joins back broadcast-sized. Only burst days are emitted.
    """
    from gentropy_spark.sources.readers import read_table, ts_micros

    ev = read_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        ts_micros(ev).alias("pos"),
    ).select(
        "user_id", F.expr(f"pos div {BURST_WINDOW_US}").alias("day_seq")
    )
    per_day = days.groupBy("user_id", "day_seq").agg(
        F.count("*").alias("n_events")
    )
    baseline = per_day.groupBy("user_id").agg(
        (F.sum("n_events") / F.count("*")).alias("mean_daily"),
        F.count("*").alias("n_active_days"),
    )
    return (
        per_day.join(baseline, on="user_id")
        .filter(
            F.col("n_events") >= F.lit(BURST_FACTOR) * F.col("mean_daily")
        )
        .select(
            "user_id",
            "day_seq",
            "n_events",
            F.round(F.col("mean_daily"), 6).alias("mean_daily"),
            F.round(F.col("n_events") / F.col("mean_daily"), 6).alias(
                "burst_ratio"
            ),
            "n_active_days",
        )
    )


BURST_SQL = f"""
WITH days AS (
  SELECT user_id, epoch_us(ts) // {BURST_WINDOW_US} AS day_seq FROM events
),
per_day AS (
  SELECT user_id, day_seq, COUNT(*) AS n_events FROM days GROUP BY 1, 2
),
baseline AS (
  SELECT user_id, CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mean_daily,
         COUNT(*) AS n_active_days
  FROM per_day GROUP BY 1
)
SELECT p.user_id, p.day_seq, p.n_events,
       ROUND(b.mean_daily, 6) AS mean_daily,
       ROUND(p.n_events / b.mean_daily, 6) AS burst_ratio,
       b.n_active_days
FROM per_day p JOIN baseline b USING (user_id)
WHERE p.n_events >= {BURST_FACTOR!r} * b.mean_daily
"""


REGISTRY["burst_detection"] = QuerySpec(q_burst_detection, BURST_SQL)


# --- A20: cohort retention matrix -----------------------------------------
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × day-offset retention (SURVEY A20): users grouped by
    first-active day, each later active day counted at its offset, and
    retention as the share of the cohort still active — the classic
    product/engagement matrix, built from two partial-agg aggregations
    and a broadcast-sized cohort join (no per-user self-join, no
    window over the raw event log)."""
    from gentropy_spark.sources.readers import read_table, ts_micros

    ev = read_table(spark, sf_dir, "events")
    DAY = 86_400_000_000
    active = (
        ev.select("user_id", ts_micros(ev).alias("pos"))
        .select("user_id", F.expr(f"pos div {DAY}").alias("day_seq"))
        .distinct()
    )
    cohorts = active.groupBy("user_id").agg(
        F.min("day_seq").alias("cohort_day")
    )
    cohort_sizes = cohorts.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_size")
    )
    offsets = (
        active.join(cohorts, on="user_id")
        .select(
            "cohort_day", (F.col("day_seq") - F.col("cohort_day")).alias("offset")
        )
        .groupBy("cohort_day", "offset")
        .agg(F.count("*").alias("n_active"))
    )
    return offsets.join(cohort_sizes, on="cohort_day").select(
        "cohort_day",
        "offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
    )


RETENTION_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_seq FROM events
),
cohorts AS (
  SELECT user_id, MIN(day_seq) AS cohort_day FROM active GROUP BY 1
),
sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM cohorts GROUP BY 1),
offsets AS (
  SELECT c.cohort_day, a.day_seq - c.cohort_day AS "offset",
         COUNT(*) AS n_active
  FROM active a JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
)
SELECT o.cohort_day, o."offset", o.n_active, s.cohort_size,
       ROUND(CAST(o.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM offsets o JOIN sizes s USING (cohort_day)
"""


REGISTRY["retention_cohorts"] = QuerySpec(q_retention_cohorts, RETENTION_SQL)


# --- A21: ordered funnel analysis -----------------------------------------
FUNNEL_STAGES = ("click", "view", "purchase")


def q_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (SURVEY A21): how many users performed
    stage 1, then stage 2 strictly after it, then stage 3 after that —
    computed from each user's first-occurrence time per stage (one
    pivoting aggregation over the log) and ordered-reach flags, never
    a per-user sequence scan. Emits per-stage reach and conversion
    from the previous stage."""
    from gentropy_spark.sources.readers import read_table, ts_micros

    ev = read_table(spark, sf_dir, "events")
    firsts = (
        ev.select("user_id", F.col("event_type").alias("stage"), ts_micros(ev).alias("pos"))
        .filter(F.col("stage").isin(*FUNNEL_STAGES))
        .groupBy("user_id")
        .agg(
            *[
                F.min(F.when(F.col("stage") == s, F.col("pos"))).alias(f"t{i}")
                for i, s in enumerate(FUNNEL_STAGES)
            ]
        )
    )
    reach1 = F.col("t0").isNotNull()
    reach2 = reach1 & F.col("t1").isNotNull() & (F.col("t1") > F.col("t0"))
    reach3 = reach2 & F.col("t2").isNotNull() & (F.col("t2") > F.col("t1"))
    agg = firsts.agg(
        F.sum(reach1.cast("long")).alias("n1"),
        F.sum(reach2.cast("long")).alias("n2"),
        F.sum(reach3.cast("long")).alias("n3"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(f"n{i + 1}").alias("n_users"),
                F.round(
                    F.col(f"n{i + 1}")
                    / F.col("n1" if i == 0 else f"n{i}"),
                    6,
                ).alias("conversion"),
            )
            for i, s in enumerate(FUNNEL_STAGES)
        ]
    )
    return agg.select(F.explode(stages).alias("s")).select(
        F.col("s.stage_idx").alias("stage_idx"),
        F.col("s.stage").alias("stage"),
        F.col("s.n_users").alias("n_users"),
        F.col("s.conversion").alias("conversion"),
    )


_F_STAGES = ", ".join(f"'{s}'" for s in FUNNEL_STAGES)
FUNNEL_SQL = f"""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = '{FUNNEL_STAGES[0]}' THEN epoch_us(ts) END) AS t0,
         MIN(CASE WHEN event_type = '{FUNNEL_STAGES[1]}' THEN epoch_us(ts) END) AS t1,
         MIN(CASE WHEN event_type = '{FUNNEL_STAGES[2]}' THEN epoch_us(ts) END) AS t2
  FROM events WHERE event_type IN ({_F_STAGES})
  GROUP BY 1
),
agg AS (
  -- BIGINT casts: DuckDB SUM(INT) -> HUGEINT breaks driver hash parity.
  SELECT CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                   AND t2 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n3
  FROM firsts
)
SELECT 1 AS stage_idx, '{FUNNEL_STAGES[0]}' AS stage, n1 AS n_users,
       ROUND(CAST(n1 AS DOUBLE) / n1, 6) AS conversion FROM agg
UNION ALL
SELECT 2, '{FUNNEL_STAGES[1]}', n2, ROUND(CAST(n2 AS DOUBLE) / n1, 6) FROM agg
UNION ALL
SELECT 3, '{FUNNEL_STAGES[2]}', n3, ROUND(CAST(n3 AS DOUBLE) / n2, 6) FROM agg
"""


REGISTRY["funnel_analysis"] = QuerySpec(q_funnel_analysis, FUNNEL_SQL)


# --- A22: inter-event dwell-time statistics -------------------------------
def q_dwell_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival (dwell) time distribution: each
    user's consecutive-event gaps (one lag window on the user sort)
    aggregated to exact quartiles per event type — the latency-
    distribution view behind sessionization gap tuning (the C-family
    cutoffs) and SLA monitoring. Exact percentile: the oracle gate
    needs bit-reproducible output."""
    from pyspark.sql import Window

    from gentropy_spark.sources.readers import read_table, ts_micros

    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.col("event_type"),
        ts_micros(ev).alias("pos"),
        F.col("event_id"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("pos", "event_id")
    # Gaps in whole SECONDS: quantile interpolation is fp arithmetic
    # whose engine-specific evaluation order diverges past ~1e-5 at
    # microsecond magnitudes — at second scale the divergence sits far
    # below the 6dp round (sub-second dwell precision is meaningless
    # for gap-tuning anyway).
    gaps = base.withColumn(
        "gap_s",
        F.expr("(pos - lag(pos) OVER (PARTITION BY user_id, event_type ORDER BY pos, event_id)) div 1000000"),
    ).filter(F.col("gap_s").isNotNull())
    pct = F.expr("percentile(gap_s, array(0.25, 0.5, 0.9))")
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(pct.getItem(0), 6).alias("p25_gap_s"),
        F.round(pct.getItem(1), 6).alias("p50_gap_s"),
        F.round(pct.getItem(2), 6).alias("p90_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


DWELL_SQL = """
WITH gaps AS (
  SELECT event_type,
         (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type
           ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap_s
  FROM events
)
SELECT event_type, COUNT(*) AS n_gaps,
       ROUND(quantile_cont(gap_s, 0.25), 6) AS p25_gap_s,
       ROUND(quantile_cont(gap_s, 0.50), 6) AS p50_gap_s,
       ROUND(quantile_cont(gap_s, 0.90), 6) AS p90_gap_s,
       MAX(gap_s) AS max_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY 1
"""


REGISTRY["dwell_time_stats"] = QuerySpec(q_dwell_time_stats, DWELL_SQL)


# --- A23: HyperLogLog distinct-count sketch -------------------------------
# Flajolet et al. 2007 (public method), built like A11/KMV on the
# cross-engine polynomial hash so the whole sketch is bit-deterministic
# and value-hash oracle-checkable (Spark's approx_count_distinct is an
# opaque HLL++ — rows-only checkable). Register math stays in exact
# integer/dyadic arithmetic: rho comes from the bit-length of the
# sub-register hash (LENGTH(bin(w)) in BOTH engines), and the
# indicator sum Σ 2^-M_j is a sum of dyadic rationals spanning < 53
# bits, so double addition is EXACT and order-independent — no decimal
# quantization needed. Registers are max-mergeable across partitions /
# days / shards: the 100 TB rollup contract. m=64 keeps the register
# fan small; the exact count rides the same shuffle for an observable
# error column.
HLL_M = 64  # registers (p=6)
HLL_SUB_BITS = 25  # poly_hash < 2^31 → sub-register value < 2^25
HLL_ALPHA = 0.709  # standard alpha_64


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL distinct-user estimate vs exact (A23)."""
    from gentropy_spark.functions.xhash import poly_hash

    ev = read_table(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type", F.col("user_id").cast("string").alias("uk")
    ).withColumn("h", poly_hash("uk"))
    # rho = leading-zero count of the 25-bit sub-register value + 1.
    w = (F.col("h") / F.lit(HLL_M)).cast("long")
    rho = F.when(w == 0, F.lit(HLL_SUB_BITS + 1)).otherwise(
        F.lit(HLL_SUB_BITS + 1) - F.length(F.bin(w))
    )
    regs = (
        hashed.select(
            "event_type",
            (F.col("h") % HLL_M).alias("reg"),
            rho.alias("rho"),
            F.col("uk"),
        )
        .groupBy("event_type", "reg")
        .agg(
            F.max("rho").alias("m_j"),
            F.count_distinct("uk").alias("n_keys"),
        )
    )
    agg = regs.groupBy("event_type").agg(
        F.count("*").alias("n_hit"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z_hit"),
        F.sum("n_keys").alias("exact_distinct"),
    )
    zeros = F.lit(HLL_M) - F.col("n_hit")
    z = F.col("z_hit") + zeros.cast("double")  # absent registers: 2^0
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / z
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (zeros > 0),
        F.round(F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros), 6),
    ).otherwise(F.round(raw, 6))
    return agg.select(
        "event_type",
        F.col("n_hit").cast("int").alias("n_registers_hit"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        est.alias("est_distinct"),
        F.round(
            F.abs(est - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


def _hll_sql() -> str:
    from gentropy_spark.functions.xhash import poly_hash_sql

    sub = HLL_SUB_BITS + 1
    return f"""
WITH hashed AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS uk,
         {poly_hash_sql("CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
rho AS (
  SELECT event_type, h % {HLL_M} AS reg, uk,
         CASE WHEN h // {HLL_M} = 0 THEN {sub}
              ELSE {sub} - LENGTH(bin(h // {HLL_M})) END AS rho
  FROM hashed
),
regs AS (
  SELECT event_type, reg, MAX(rho) AS m_j,
         COUNT(DISTINCT uk) AS n_keys
  FROM rho GROUP BY 1, 2
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS INT) AS n_hit,
         SUM(POW(2.0, -m_j)) AS z_hit,
         CAST(SUM(n_keys) AS BIGINT) AS exact_distinct
  FROM regs GROUP BY 1
),
est AS (
  SELECT *,
         CASE
           WHEN {HLL_ALPHA * HLL_M * HLL_M}
                / (z_hit + ({HLL_M} - n_hit)) <= {2.5 * HLL_M}
                AND ({HLL_M} - n_hit) > 0
           THEN ROUND({float(HLL_M)} * LN({float(HLL_M)}
                      / ({HLL_M} - n_hit)), 6)
           ELSE ROUND({HLL_ALPHA * HLL_M * HLL_M}
                      / (z_hit + ({HLL_M} - n_hit)), 6)
         END AS est_distinct
  FROM agg
)
SELECT event_type, n_hit AS n_registers_hit, exact_distinct, est_distinct,
       ROUND(ABS(est_distinct - exact_distinct) / exact_distinct, 6)
         AS rel_err
FROM est
"""


REGISTRY["hll_distinct"] = QuerySpec(q_hll_distinct, _hll_sql())
