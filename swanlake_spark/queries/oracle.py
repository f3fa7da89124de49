"""The declared oracle query set (SURVEY.md §2.5, Q01–Q42).

Each entry pairs a Spark-side builder ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB SQL string; the driver executes both at
sf0.01 and compares row count + schema + order-insensitive value hash.

Dialect discipline (SURVEY §2.4/§7.4):
- every aggregate/computed column is aliased identically on both sides;
- integer aggregates are CAST to BIGINT on both sides (DuckDB widens
  SUM(int) to HUGEINT, Spark to BIGINT);
- ``year``/``month``/``length`` are CAST to INT (DuckDB returns BIGINT);
- double→int conversions go through ``floor`` (DuckDB CAST rounds,
  Spark CAST truncates);
- float aggregates are wrapped in ``round``; total ORDER BY on
  non-null keys, explicit NULLS FIRST/LAST where a key can be null.
"""

from __future__ import annotations

import os
import uuid
import weakref
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swanlake_spark.sources import register_tables

# -- registry ----------------------------------------------------------------


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → rows-only check
    # Sketch queries (approx_count_distinct) have no exact oracle, but
    # SURVEY §2.5 declares a ±tolerance check vs the exact answer:
    approx_sql: str | None = None  # exact-answer DuckDB SQL
    rel_tol: float = 0.0  # allowed relative error vs approx_sql
    # Execution profile applied (and restored) by the bench harness
    # around this query. Sub-second multi-stage queries carry the
    # interactive profile {"spark.sql.adaptive.enabled": "false"}: AQE
    # materializes every shuffle stage sequentially and re-plans between
    # them, which costs ~100 ms of driver latency — negligible on long
    # queries, dominant on 0.2 s ones. The static plan uses the
    # pre-sized shuffle partitioning instead. At 100 TB these same
    # queries run minutes long and the default profile (AQE on: skew
    # splitting, runtime coalescing) is the right one — profiles are
    # per-workload deployment tuning, not semantics; correctness runs
    # ignore exec_conf entirely.
    exec_conf: dict[str, str] | None = None


ORACLE_QUERIES: dict[str, QuerySpec] = {}


def dsum(expr: str, digits: int = 2) -> str:
    """Order-independent rounded sum of a double expression.

    ``sum(double)`` is non-deterministic in its last ulp (addition order
    varies with partitioning), so ``round(sum(x), 2)`` can flip at a
    rounding boundary between engines or even between runs. Fix: round
    each row to 6 decimals as a scaled BIGINT and sum integers — exact,
    associative, and ~3× faster than DECIMAL aggregation (stays in
    whole-stage codegen long math). The per-row scaling is deterministic
    across engines (a binary double can never tie exactly at a decimal
    midpoint). ANSI mode errors on (astronomically distant) overflow
    rather than wrapping. Works verbatim in Spark SQL and DuckDB.
    """
    return (
        f"CAST(round(sum(CAST(round(({expr}) * 1000000) AS BIGINT)) / 1000000.0, "
        f"{digits}) AS DOUBLE)"
    )


def dsum_raw(expr: str) -> str:
    """Order-independent unrounded sum (as DOUBLE) for ratio numerators/
    denominators and threshold comparisons."""
    return f"(sum(CAST(round(({expr}) * 1000000) AS BIGINT)) / 1000000.0)"


def rstable(expr: str, digits: int = 4) -> str:
    """Ulp-stable final rounding for ratio/avg outputs.

    ``round(x, 4)`` diverges between engines in the last ulp: Spark
    rounds through the exact BigDecimal of the binary double (HALF_UP),
    DuckDB scales in float space. ``floor(x*10^d + 0.5) / 10^d`` performs
    the identical double operations on both engines, so the result bits
    match whenever the input bits match. Valid for non-negative values
    (all our avg/ratio outputs)."""
    scale = 10 ** digits
    # CAST the divisor: Spark parses a bare `10000.0` literal as DECIMAL
    # and floor() returns BIGINT, so `/ 10000.0` would produce
    # DECIMAL(28,7) — the cast keeps the output DOUBLE on both engines.
    return f"(floor(({expr}) * {scale} + 0.5) / CAST({scale} AS DOUBLE))"

# spark session → sf_dir currently registered as temp views. Weakly
# keyed: an id() key outlives its session, and a later session
# allocated at the same address would skip registration.
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def ensure_tables(spark: SparkSession, sf_dir: str) -> None:
    path = os.path.abspath(sf_dir)
    if _REGISTERED.get(spark) != path:
        # Bare-session entry (driver contract, bench): ship the package
        # zip so UDF closures resolve on Python workers regardless of
        # the driver's cwd — see swanlake_spark.pyship.
        from swanlake_spark.pyship import ship_package

        ship_package(spark)
        register_tables(spark, sf_dir)
        _REGISTERED[spark] = path


def mark_registered(spark: SparkSession, sf_dir: str) -> None:
    """Tell ensure_tables the views for ``sf_dir`` are already in place —
    used after materialize_warehouse re-registers them over its own
    (multi-part) files so ensure_tables doesn't clobber them with plain
    single-file views."""
    _REGISTERED[spark] = os.path.abspath(sf_dir)


def _add(name: str, build, oracle: str | None) -> None:
    ORACLE_QUERIES[name] = QuerySpec(name, build, oracle)


def sql_pair(name: str, spark_sql: str, duck_sql: str | None = "SAME") -> None:
    """Register a query that is plain SQL on the Spark side; the DuckDB
    oracle defaults to the identical text (common dialect)."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_tables(spark, sf_dir)
        return spark.sql(spark_sql)

    _add(name, build, spark_sql if duck_sql == "SAME" else duck_sql)


# -- Q01–Q34: read-side relational surface -----------------------------------

# l_quantity is integral-valued → its double sum/avg is exact; the
# price/discount sums are decimal-summed (see dsum).
sql_pair(
    "q01_agg_tpch1",
    f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           {dsum('l_extendedprice')}                                       AS sum_base,
           {dsum('l_extendedprice * (1 - l_discount)')}                    AS sum_disc,
           {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}      AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

sql_pair(
    "q02_filter",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 100000.0 AND o_orderstatus = 'F'
    ORDER BY o_orderkey
    """,
)

sql_pair(
    "q03_between_tpch6",
    f"""
    SELECT {dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)

sql_pair(
    "q04_in_list",
    """
    SELECT p_partkey, p_brand FROM part
    WHERE p_size IN (1, 5, 9, 13) ORDER BY p_partkey
    """,
)

sql_pair(
    "q05_like",
    """
    SELECT p_partkey, p_type FROM part
    WHERE p_type LIKE '%BRASS%' OR p_name LIKE 'a%' ORDER BY p_partkey
    """,
)

sql_pair(
    "q06_null_coalesce",
    """
    SELECT o_orderkey, coalesce(o_orderpriority, 'NONE') AS pri
    FROM orders WHERE o_orderpriority IS NOT NULL ORDER BY o_orderkey LIMIT 100
    """,
)

sql_pair(
    "q07_boolean_tpch19",
    """
    SELECT count(*) AS cnt FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_size BETWEEN 1 AND 15 AND l_quantity < 20)
       OR (p_size BETWEEN 16 AND 30 AND l_quantity >= 20 AND l_quantity < 40)
    """,
)

sql_pair(
    "q08_case_when",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS hi_disc,
           CAST(sum(CASE WHEN l_tax = 0.0 THEN 1 ELSE 0 END) AS BIGINT)       AS no_tax
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

sql_pair(
    "q09_cast",
    """
    SELECT CAST(o_orderkey AS STRING) AS k,
           CAST(floor(o_totalprice) AS BIGINT) AS p
    FROM orders ORDER BY o_orderkey LIMIT 50
    """,
)

sql_pair(
    "q10_date_funcs",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           count(*) AS cnt
    FROM orders GROUP BY year(o_orderdate), month(o_orderdate) ORDER BY y, m
    """,
)

sql_pair(
    "q11_join2",
    f"""
    SELECT c_mktsegment, {dsum('o_totalprice')} AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)

sql_pair(
    "q12_join_multiway_tpch5",
    f"""
    SELECT n_name, {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey   = o_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    JOIN supplier ON l_suppkey   = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name ORDER BY n_name
    """,
)

sql_pair(
    "q13_left_join_tpch13",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey AS ck, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) t GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)

sql_pair(
    "q14_semi_exists_tpch4",
    """
    SELECT o_orderpriority, count(*) AS cnt FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

sql_pair(
    "q15_anti_not_exists_tpch22",
    """
    SELECT c_nationkey, count(*) AS cnt FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)

sql_pair(
    "q16_cross_join",
    """
    SELECT r1.r_name AS a, r2.r_name AS b
    FROM region r1 CROSS JOIN region r2 ORDER BY a, b
    """,
)

sql_pair(
    "q17_self_theta_tpch21",
    """
    SELECT count(*) AS cnt
    FROM lineitem l1 JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    WHERE l1.l_linenumber = 1
    """,
)

sql_pair(
    "q19_global_agg",
    """
    SELECT count(*) AS n, round(min(o_totalprice), 2) AS mn,
           round(max(o_totalprice), 2) AS mx
    FROM orders
    """,
)

sql_pair(
    "q20_count_distinct_tpch16",
    """
    SELECT p_brand, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    GROUP BY p_brand ORDER BY supplier_cnt DESC, p_brand
    """,
)

sql_pair(
    "q21_having_tpch11",
    f"""
    SELECT l_partkey, {dsum('l_extendedprice')} AS val
    FROM lineitem GROUP BY l_partkey
    HAVING sum(l_quantity) > 100 ORDER BY l_partkey
    """,
)

sql_pair(
    "q22_rollup",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)

sql_pair(
    "q22b_cube",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)

sql_pair(
    "q22c_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)


def _q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_tables(spark, sf_dir)
    return spark.sql(
        "SELECT approx_count_distinct(l_partkey) AS apx FROM lineitem"
    )


# Sketches differ across engines → no hash oracle (SURVEY §2.5 Q23*),
# but the declared ±5% tolerance check runs against the exact count.
ORACLE_QUERIES["q23_approx_count_distinct"] = QuerySpec(
    "q23_approx_count_distinct",
    _q23,
    None,
    approx_sql="SELECT count(DISTINCT l_partkey) AS apx FROM lineitem",
    rel_tol=0.05,
)

sql_pair(
    "q24_window_rank",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) t
    WHERE rnk <= 3 ORDER BY o_custkey, rnk
    """,
)

# events.ts is long nanos on the Spark side and TIMESTAMP on the DuckDB
# side — ordering is identical, and ts itself is not output.
sql_pair(
    "q25_window_lag_lead",
    """
    SELECT user_id, event_id,
           round(lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS prev_v,
           round(lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS next_v
    FROM events ORDER BY user_id, event_id LIMIT 500
    """,
)

sql_pair(
    "q26_window_frame",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mv
    FROM events ORDER BY user_id, event_id LIMIT 500
    """,
)

sql_pair(
    "q27_topk_offset",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 5
    """,
)

sql_pair(
    "q28_union_all",
    """
    SELECT k FROM (
      SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
      UNION ALL SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
    ) u ORDER BY k
    """,
)

sql_pair(
    "q29_intersect",
    """
    SELECT c_nationkey FROM customer
    INTERSECT SELECT s_nationkey FROM supplier ORDER BY c_nationkey
    """,
)

sql_pair(
    "q30_scalar_subquery",
    """
    SELECT count(*) AS cnt FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)

sql_pair(
    "q31_correlated_subquery_tpch17",
    f"""
    SELECT {rstable(dsum_raw('l_extendedprice') + ' / 7.0', 2)} AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)

sql_pair(
    "q32_cte_tpch15",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)

sql_pair(
    "q33_distinct",
    """
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    ORDER BY l_returnflag, l_linestatus
    """,
)

sql_pair(
    "q34_scalar_battery",
    """
    SELECT n_nationkey,
           upper(n_name) AS u, lower(n_name) AS l,
           CAST(length(n_name) AS INT) AS len,
           substr(n_name, 1, 3) AS pre, replace(n_name, 'A', '@') AS rep,
           concat(n_name, '-', CAST(n_nationkey AS STRING)) AS ck,
           abs(n_nationkey - 12) AS ab, round(sqrt(n_nationkey + 1), 4) AS sq,
           round(power(2, n_regionkey), 2) AS pw,
           CAST(mod(n_nationkey, 5) AS INT) AS md,
           trim(concat('  ', n_name, '  ')) AS tr,
           lpad(n_name, 12, '.') AS lp, rpad(n_name, 12, '.') AS rp,
           reverse(n_name) AS rev,
           greatest(n_nationkey, n_regionkey) AS gr,
           least(n_nationkey, n_regionkey) AS le
    FROM nation ORDER BY n_nationkey
    """,
)

# -- Q35–Q39: views / CTAS / DML on engine tables ----------------------------


def _q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_tables(spark, sf_dir)
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW big_orders AS
           SELECT * FROM orders WHERE o_totalprice > 200000.0"""
    )
    return spark.sql("SELECT count(*) AS cnt FROM big_orders")


_add(
    "q35_temp_view",
    _q35,
    "SELECT count(*) AS cnt FROM orders WHERE o_totalprice > 200000.0",
)


def _scratch_location() -> str:
    import tempfile

    return tempfile.mkdtemp(prefix="swl_tbl_")


def _q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_tables(spark, sf_dir)
    name = f"swl_ctas_{uuid.uuid4().hex[:8]}"
    loc = _scratch_location()
    spark.sql(
        f"""CREATE TABLE {name} USING parquet LOCATION '{loc}' AS
            SELECT l_returnflag, count(*) AS cnt
            FROM lineitem GROUP BY l_returnflag"""
    )
    return spark.sql(f"SELECT l_returnflag, cnt FROM {name} ORDER BY l_returnflag")


_add(
    "q36_ctas",
    _q36,
    """SELECT l_returnflag, count(*) AS cnt
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
)


def _make_partial_table(spark: SparkSession) -> str:
    name = f"swl_partial_{uuid.uuid4().hex[:8]}"
    loc = _scratch_location()
    spark.sql(
        f"CREATE TABLE {name} (id INT, name STRING, age INT) "
        f"USING parquet LOCATION '{loc}'"
    )
    # Partial column list: `age` NULL-filled (reference partial_insert.test,
    # batch alignment A7).
    spark.sql(f"INSERT INTO {name} (id, name) VALUES (1, 'Alice'), (2, 'Bob')")
    return name


def _q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = _make_partial_table(spark)
    return spark.sql(f"SELECT id, name, age FROM {name} ORDER BY id")


_add(
    "q37_insert_partial",
    _q37,
    """SELECT * FROM (VALUES (1, 'Alice', CAST(NULL AS INTEGER)),
                             (2, 'Bob',   CAST(NULL AS INTEGER)))
       AS t(id, name, age) ORDER BY id""",
)


def _q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swanlake_spark.engine import Engine

    name = _make_partial_table(spark)
    eng = Engine(spark=spark)
    eng.execute_update(f"UPDATE {name} SET age = 30 WHERE id = 1")
    return spark.sql(f"SELECT id, age FROM {name} ORDER BY id")


_add(
    "q38_update",
    _q38,
    """SELECT * FROM (VALUES (1, 30), (2, CAST(NULL AS INTEGER)))
       AS t(id, age) ORDER BY id""",
)


def _q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swanlake_spark.engine import Engine

    name = _make_partial_table(spark)
    eng = Engine(spark=spark)
    eng.execute_update(f"DELETE FROM {name} WHERE id = 2")
    return spark.sql(f"SELECT count(*) AS cnt FROM {name}")


_add("q39_delete", _q39, "SELECT CAST(1 AS BIGINT) AS cnt")

# -- Q40–Q42: arrays / JSON / regex ------------------------------------------

sql_pair(
    "q40_array_contains",
    """
    SELECT count(*) AS with_label FROM embeddings
    WHERE label >= 0 AND array_contains(embedding, CAST(0.0 AS FLOAT))
    """,
)

sql_pair(
    "q40b_array_funcs",
    """
    SELECT vec_id,
           CAST(size(embedding) AS INT) AS dim,
           round(CAST(element_at(embedding, 1) AS DOUBLE), 4) AS first_v
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 4) AS first_v
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
)

sql_pair(
    "q41_json_extract",
    """
    SELECT CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS s,
           count(*) AS cnt
    FROM events WHERE get_json_object(props, '$.k') IS NOT NULL
    """,
    """
    SELECT CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS s,
           count(*) AS cnt
    FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
)

sql_pair(
    "q42_regex",
    """
    SELECT count(*) AS cnt FROM part WHERE regexp_like(p_type, '^ECONOMY')
    """,
    """
    SELECT count(*) AS cnt FROM part WHERE regexp_matches(p_type, '^ECONOMY')
    """,
)

# -- Merged batteries for the driver's 50-entry correctness window ------------
#
# The driver records at most 50 CORRECTNESS entries (r1 stopped at exactly
# 50 in dict order), so redundant single-operator entries are folded into
# combined batteries here; the individual specs above stay registered for
# the pytest corpus. DRIVER_ORACLE_NAMES below is the curated selection.

sql_pair(
    "q22d_grouping_battery",
    """
    SELECT src, l_returnflag, l_linestatus, cnt FROM (
      SELECT 'rollup' AS src, l_returnflag, l_linestatus, count(*) AS cnt
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      UNION ALL
      SELECT 'cube' AS src, l_returnflag, l_linestatus, count(*) AS cnt
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      UNION ALL
      SELECT 'gsets' AS src, l_returnflag, l_linestatus, count(*) AS cnt
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ) g
    ORDER BY src, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)

sql_pair(
    "q24b_window_battery",
    f"""
    SELECT user_id, event_id, rnk,
           {rstable('prev_v')} AS prev_v, {rstable('next_v')} AS next_v,
           {rstable('mv')} AS mv
    FROM (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rnk,
             lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
             lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_v,
             sum(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv
      FROM events) t
    ORDER BY user_id, event_id LIMIT 500
    """,
)

sql_pair(
    "q28b_setops_battery",
    """
    SELECT tag, k FROM (
      SELECT 'u' AS tag, k FROM (
        SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
        UNION ALL SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000) u
      UNION ALL
      SELECT 'i' AS tag, k FROM (
        SELECT c_nationkey AS k FROM customer
        INTERSECT SELECT s_nationkey FROM supplier) i
      UNION ALL
      SELECT 'e' AS tag, k FROM (
        SELECT c_nationkey AS k FROM customer
        EXCEPT SELECT s_nationkey FROM supplier) e
    ) s ORDER BY tag, k
    """,
)

sql_pair(
    "q43_array_battery",
    """
    SELECT vec_id,
           CAST(size(embedding) AS INT) AS dim,
           round(CAST(element_at(embedding, 1) AS DOUBLE), 4) AS first_v,
           CASE WHEN array_contains(embedding, CAST(0.0 AS FLOAT))
                THEN 1 ELSE 0 END AS has_zero
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 4) AS first_v,
           CASE WHEN list_contains(embedding, CAST(0.0 AS FLOAT))
                THEN 1 ELSE 0 END AS has_zero
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
)

sql_pair(
    "q44_json_regex",
    """
    SELECT j.s, j.cnt, r.rcnt FROM
      (SELECT CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS s,
              count(*) AS cnt
       FROM events WHERE get_json_object(props, '$.k') IS NOT NULL) j
      CROSS JOIN
      (SELECT count(*) AS rcnt FROM part
       WHERE regexp_like(p_type, '^ECONOMY')) r
    """,
    """
    SELECT j.s, j.cnt, r.rcnt FROM
      (SELECT CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS s,
              count(*) AS cnt
       FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL) j
      CROSS JOIN
      (SELECT count(*) AS rcnt FROM part
       WHERE regexp_matches(p_type, '^ECONOMY')) r
    """,
)

def _q49_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via the binned range_join operator (no nested
    loop); DuckDB oracle uses its native IEJoin BETWEEN plan.
    Overlapping bands on purpose — a row can land in several."""
    from pyspark.sql import functions as F

    from swanlake_spark.operators.joins import range_join

    ensure_tables(spark, sf_dir)
    bands = spark.createDataFrame(
        [
            ("low", 0.0, 50_000.0),
            ("mid", 40_000.0, 150_000.0),
            ("high", 120_000.0, 10_000_000.0),
        ],
        ["band", "lo", "hi"],
    )
    j = range_join(
        spark.table("orders").select("o_orderkey", "o_totalprice"),
        bands, "o_totalprice", "lo", "hi", bin_width=50_000.0,
    )
    return (
        j.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr(dsum("o_totalprice")).alias("total"),
        )
        .orderBy("band")
    )


_add(
    "q49_range_join",
    _q49_range_join,
    f"""
    WITH bands(band, lo, hi) AS (VALUES
      ('low', 0.0, 50000.0), ('mid', 40000.0, 150000.0),
      ('high', 120000.0, 10000000.0))
    SELECT band, count(*) AS cnt, {dsum('o_totalprice')} AS total
    FROM orders JOIN bands ON o_totalprice BETWEEN lo AND hi
    GROUP BY band ORDER BY band
    """,
)

# Recursive CTE — supported by both Spark 4.1 and DuckDB with identical
# syntax (iterative query surface; pytest-corpus entry).
sql_pair(
    "q48_recursive_cte",
    """
    WITH RECURSIVE r(n) AS (
      SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 25
    )
    SELECT CAST(sum(n) AS BIGINT) AS s, count(*) AS cnt,
           CAST(max(n) AS INT) AS mx
    FROM r
    """,
)

sql_pair(
    "q47_distinct_topk_offset",
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    ORDER BY o_orderstatus, o_orderpriority LIMIT 5 OFFSET 2
    """,
)

# Exact interpolated quantiles: Spark `percentile` and DuckDB
# `quantile_cont` both compute lower + (upper-lower)·frac over the
# sorted group — hash-matchable, unlike the approx_percentile sketches.
sql_pair(
    "q50_quantile_battery",
    f"""
    SELECT l_returnflag,
           {rstable('percentile(l_quantity, 0.5)')} AS median_qty,
           {rstable('percentile(l_extendedprice, 0.25)')} AS p25_price,
           {rstable('percentile(l_extendedprice, 0.95)')} AS p95_price,
           {rstable('min(l_extendedprice)')} AS min_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    f"""
    SELECT l_returnflag,
           {rstable('quantile_cont(l_quantity, 0.5)')} AS median_qty,
           {rstable('quantile_cont(l_extendedprice, 0.25)')} AS p25_price,
           {rstable('quantile_cont(l_extendedprice, 0.95)')} AS p95_price,
           {rstable('min(l_extendedprice)')} AS min_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

# r6 driver-window fold (VERDICT r5 #1): q43_array_battery +
# q44_json_regex combine into ONE battery row (uniform tagged schema)
# so their two slots shrink to one; both singles stay registered for
# the pytest corpus and direct use.
sql_pair(
    "q43_array_json_battery",
    """
    SELECT src, k, v1, v2, v3 FROM (
      SELECT 'arr' AS src, CAST(vec_id AS BIGINT) AS k,
             CAST(size(embedding) AS DOUBLE) AS v1,
             round(CAST(element_at(embedding, 1) AS DOUBLE), 4) AS v2,
             CASE WHEN array_contains(embedding, CAST(0.0 AS FLOAT))
                  THEN 1.0 ELSE 0.0 END AS v3
      FROM embeddings ORDER BY vec_id LIMIT 100
    ) a
    UNION ALL
    SELECT 'json' AS src, CAST(0 AS BIGINT) AS k,
           CAST(j.s AS DOUBLE) AS v1, CAST(j.cnt AS DOUBLE) AS v2,
           CAST(r.rcnt AS DOUBLE) AS v3 FROM
      (SELECT CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS s,
              count(*) AS cnt
       FROM events WHERE get_json_object(props, '$.k') IS NOT NULL) j
      CROSS JOIN
      (SELECT count(*) AS rcnt FROM part
       WHERE regexp_like(p_type, '^ECONOMY')) r
    ORDER BY src, k
    """,
    """
    SELECT src, k, v1, v2, v3 FROM (
      SELECT 'arr' AS src, CAST(vec_id AS BIGINT) AS k,
             CAST(len(embedding) AS DOUBLE) AS v1,
             round(CAST(embedding[1] AS DOUBLE), 4) AS v2,
             CASE WHEN list_contains(embedding, CAST(0.0 AS FLOAT))
                  THEN 1.0 ELSE 0.0 END AS v3
      FROM embeddings ORDER BY vec_id LIMIT 100
    ) a
    UNION ALL
    SELECT 'json' AS src, CAST(0 AS BIGINT) AS k,
           CAST(j.s AS DOUBLE) AS v1, CAST(j.cnt AS DOUBLE) AS v2,
           CAST(r.rcnt AS DOUBLE) AS v3 FROM
      (SELECT CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS s,
              count(*) AS cnt
       FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL) j
      CROSS JOIN
      (SELECT count(*) AS rcnt FROM part
       WHERE regexp_matches(p_type, '^ECONOMY')) r
    ORDER BY src, k
    """,
)

# Extended ranking-window surface (ntile / percent_rank / cume_dist /
# dense_rank) with a named WINDOW clause — identical spelling in both
# engines.
sql_pair(
    "q51_window_extended",
    f"""
    SELECT user_id, event_id,
           ntile(4) OVER w AS nt,
           {rstable('percent_rank() OVER w')} AS pr,
           {rstable('cume_dist() OVER w')} AS cd,
           dense_rank() OVER w AS dr
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id LIMIT 500
    """,
)


def _q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swanlake_spark.engine import Engine

    name = _make_partial_table(spark)
    eng = Engine(spark=spark)
    eng.execute_update(f"UPDATE {name} SET age = 30 WHERE id = 1")
    eng.execute_update(f"DELETE FROM {name} WHERE id = 2")
    return spark.sql(f"SELECT id, name, age FROM {name} ORDER BY id")


_add(
    "q45_dml_update_delete",
    _q45,
    "SELECT * FROM (VALUES (1, 'Alice', 30)) AS t(id, name, age)",
)


def _q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_tables(spark, sf_dir)
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW big_orders_ctas AS
           SELECT * FROM orders WHERE o_totalprice > 200000.0"""
    )
    name = f"swl_ctas_{uuid.uuid4().hex[:8]}"
    loc = _scratch_location()
    spark.sql(
        f"""CREATE TABLE {name} USING parquet LOCATION '{loc}' AS
            SELECT o_orderstatus, count(*) AS cnt
            FROM big_orders_ctas GROUP BY o_orderstatus"""
    )
    return spark.sql(f"SELECT o_orderstatus, cnt FROM {name} ORDER BY o_orderstatus")


_add(
    "q46_view_ctas",
    _q46,
    """SELECT o_orderstatus, count(*) AS cnt FROM orders
       WHERE o_totalprice > 200000.0
       GROUP BY o_orderstatus ORDER BY o_orderstatus""",
)

def _q45b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 driver-window fold (VERDICT r5 #1): the q46 CTAS/view flow,
    q37 partial INSERT, q45 UPDATE+DELETE, and the r6 snapshot change
    feed (``table_changes`` over the DML arm's version chain) run in
    ONE battery with a uniform tagged schema, freeing two window slots;
    the singles stay registered for the pytest corpus."""
    from swanlake_spark.engine import Engine

    ensure_tables(spark, sf_dir)
    # q46 arm: view + CTAS
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW big_orders_ctas_b AS
           SELECT * FROM orders WHERE o_totalprice > 200000.0"""
    )
    ctas = f"swl_ctas_{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"""CREATE TABLE {ctas} USING parquet LOCATION '{_scratch_location()}' AS
            SELECT o_orderstatus, count(*) AS cnt
            FROM big_orders_ctas_b GROUP BY o_orderstatus"""
    )
    # q37 arm: partial-column INSERT (typed-NULL pad)
    ins = _make_partial_table(spark)
    # q45 arm: UPDATE + DELETE through the engine's COW path — seeded
    # through the engine so every write records a snapshot manifest,
    # which the cdc arm below diffs
    from swanlake_spark import versions as _versions

    eng = Engine(spark=spark)
    dml = f"swl_dmlb_{uuid.uuid4().hex[:8]}"
    eng.execute(
        f"CREATE TABLE {dml} (id INT, name STRING, age INT) "
        f"USING parquet LOCATION '{_scratch_location()}'"
    )
    eng.execute(
        f"INSERT INTO {dml} (id, name) VALUES (1, 'Alice'), (2, 'Bob')"
    )
    v_seed = _versions.current_version(spark, dml)
    eng.execute_update(f"UPDATE {dml} SET age = 30 WHERE id = 1")
    eng.execute_update(f"DELETE FROM {dml} WHERE id = 2")
    v_fin = _versions.current_version(spark, dml)
    # cdc arm (r6): the net change feed across the UPDATE+DELETE — the
    # update surfaces as its delete+insert pair, the rewritten file's
    # unchanged rows cancel (versions.table_changes via the SQL TVF)
    eng.query(
        f"SELECT _change_type, id, name, age "
        f"FROM table_changes('{dml}', {v_seed}, {v_fin})"
    ).df.createOrReplaceTempView("swl_cdc_feed_b")
    return spark.sql(
        f"""
        SELECT src, k, v FROM (
          SELECT 'ctas' AS src, o_orderstatus AS k, cnt AS v FROM {ctas}
          UNION ALL
          SELECT 'ins' AS src, concat(id, ':', name) AS k,
                 CAST(age AS BIGINT) AS v FROM {ins}
          UNION ALL
          SELECT 'dml' AS src, concat(id, ':', name) AS k,
                 CAST(age AS BIGINT) AS v FROM {dml}
          UNION ALL
          SELECT 'cdc' AS src,
                 concat(_change_type, ':', id, ':', name) AS k,
                 CAST(age AS BIGINT) AS v FROM swl_cdc_feed_b
        ) u ORDER BY src, k
        """
    )


_add(
    "q45_ddl_dml_battery",
    _q45b,
    """
    SELECT src, k, v FROM (
      SELECT 'ctas' AS src, o_orderstatus AS k, count(*) AS v FROM orders
      WHERE o_totalprice > 200000.0 GROUP BY o_orderstatus
      UNION ALL
      SELECT 'ins' AS src, concat(id, ':', name) AS k, CAST(NULL AS BIGINT) AS v
      FROM (VALUES (1, 'Alice'), (2, 'Bob')) t(id, name)
      UNION ALL
      SELECT 'dml' AS src, '1:Alice' AS k, CAST(30 AS BIGINT) AS v
      UNION ALL
      SELECT 'cdc' AS src, k, v FROM (VALUES
        ('delete:1:Alice', CAST(NULL AS BIGINT)),
        ('insert:1:Alice', CAST(30 AS BIGINT)),
        ('delete:2:Bob',   CAST(NULL AS BIGINT))) t(k, v)
    ) u ORDER BY src, k
    """,
)


def _q47mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh, driver-verifiable: a
    rollup matview (count/sum/avg/min/max — avg exercises the sum+count
    merge-state path) over a scratch copy of ``orders`` folds an
    appended delta, then a DELETE (whole-group retirement) + UPDATE
    through the r6 differential path (min/max present → net-affected
    groups recompute, the rest merge); the oracle recomputes the same
    aggregate over the final row multiset in DuckDB. Reference
    behavior: DuckDB has no matviews — SURVEY §2.5 extension surface
    (matview.py)."""
    from swanlake_spark.engine import Engine

    ensure_tables(spark, sf_dir)
    eng = Engine(spark=spark)
    base = f"swl_mvb_{uuid.uuid4().hex[:8]}"
    mv = f"swl_mvi_{uuid.uuid4().hex[:8]}"
    eng.execute(
        f"CREATE TABLE {base} (o_orderstatus STRING, o_totalprice "
        f"DECIMAL(15,2)) USING parquet LOCATION '{_scratch_location()}'"
    )
    # seed through the engine (records snapshot v1 for the stamp)
    eng.execute(
        f"INSERT INTO {base} SELECT o_orderstatus, o_totalprice "
        f"FROM orders WHERE o_orderkey % 3 = 0"
    )
    from swanlake_spark import matview

    matview.create(
        spark,
        mv,
        f"SELECT o_orderstatus, count(*) AS cnt, sum(o_totalprice) AS "
        f"total, avg(o_totalprice) AS avg_price, "
        f"min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM {base} "
        f"GROUP BY o_orderstatus",
        location=_scratch_location(),  # scratch, not spark-warehouse
    )
    # round 1 — append delta, published AFTER the stamped create
    eng.execute(
        f"INSERT INTO {base} VALUES ('X', 123.45), ('X', 876.55), "
        f"('O', -10.00)"
    )
    eng.execute(f"REFRESH MATERIALIZED VIEW {mv} INCREMENTAL")
    # round 2 — differential: retire group X entirely, rewrite the
    # sentinel row (-10.00 can't occur in TPC-H totalprice); min/max
    # present → the net-affected groups recompute, the rest merge
    eng.execute(f"DELETE FROM {base} WHERE o_orderstatus = 'X'")
    eng.execute(
        f"UPDATE {base} SET o_totalprice = -11.00 "
        f"WHERE o_totalprice = -10.00"
    )
    eng.execute(f"REFRESH MATERIALIZED VIEW {mv} INCREMENTAL")
    out = spark.sql(
        f"""SELECT o_orderstatus, cnt, CAST(total AS DOUBLE) AS total,
               CAST(floor(CAST(avg_price AS DOUBLE) * 100 + 0.5) / 100.0
                    AS DOUBLE) AS avg_c,
               CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi
            FROM {mv} ORDER BY o_orderstatus"""
    )
    # materialize before dropping the scratch objects (the driver
    # collects AFTER build returns; a lazy plan over a dropped view
    # would fail) — 4 rows, trivially driver-sized
    rows, schema = out.collect(), out.schema
    eng.execute(f"DROP MATERIALIZED VIEW {mv}")
    eng.execute(f"DROP TABLE {base}")
    return spark.createDataFrame(rows, schema)


_add(
    "q47_matview_incremental",
    _q47mv,
    """
    SELECT o_orderstatus, count(*) AS cnt,
           CAST(sum(o_totalprice) AS DOUBLE) AS total,
           CAST(floor(CAST(avg(o_totalprice) AS DOUBLE) * 100 + 0.5)
                / 100.0 AS DOUBLE) AS avg_c,
           CAST(min(o_totalprice) AS DOUBLE) AS lo,
           CAST(max(o_totalprice) AS DOUBLE) AS hi
    FROM (
      -- cast BEFORE aggregating: the engine-side table is DECIMAL(15,2),
      -- so Spark sums exact decimals; summing the parquet's raw DOUBLEs
      -- here diverges in the last ulp (order-dependent float accumulation)
      SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(15,2)) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT * FROM (VALUES ('O', CAST(-11.00 AS DECIMAL(15,2))))
             t(o_orderstatus, o_totalprice)
    ) u GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)


def _q48cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed at data scale (VERDICT r6 #4): seed a COW table
    from an orders slice, run an UPDATE and a disjoint DELETE through
    the engine, and read the NET row-level feed between the seed and
    final snapshots with ``table_changes`` (versions.py — manifest diff
    scans only disagreeing files; rewritten-but-unchanged rows cancel).
    The oracle recomputes the expected feed directly from the orders
    parquet: the update surfaces as its delete+insert pair, the delete
    as a bare delete, everything else cancels. All aggregation-free and
    decimal-exact, so the driver hash is bit-stable (the q47 lesson:
    both sides read DECIMAL(15,2) values, cast to DOUBLE only at the
    projection). Reference: the snapshot catalog keeps every version
    queryable (swanlake-core/src/engine/factory.rs:38-39); the feed is
    the row-level delta that model implies."""
    from swanlake_spark import versions as _versions
    from swanlake_spark.engine import Engine

    ensure_tables(spark, sf_dir)
    eng = Engine(spark=spark)
    t = f"swl_cdc_{uuid.uuid4().hex[:8]}"
    eng.execute(
        f"CREATE TABLE {t} (o_orderkey BIGINT, o_orderstatus STRING, "
        f"o_totalprice DECIMAL(15,2)) USING parquet "
        f"LOCATION '{_scratch_location()}'"
    )
    eng.execute(
        f"INSERT INTO {t} SELECT o_orderkey, o_orderstatus, o_totalprice "
        f"FROM orders WHERE o_orderkey % 5 = 0"
    )
    v_seed = _versions.current_version(spark, t)
    # UPDATE and DELETE on predicates made disjoint by o_orderstatus
    eng.execute_update(
        f"UPDATE {t} SET o_totalprice = o_totalprice + 1.00 "
        f"WHERE o_orderstatus = 'F' AND o_orderkey % 25 = 0"
    )
    eng.execute_update(
        f"DELETE FROM {t} "
        f"WHERE o_orderstatus = 'O' AND o_orderkey % 35 = 0"
    )
    v_fin = _versions.current_version(spark, t)
    out = eng.query(
        f"SELECT _change_type AS change, o_orderkey AS k, "
        f"o_orderstatus AS st, CAST(o_totalprice AS DOUBLE) AS price "
        f"FROM table_changes('{t}', {v_seed}, {v_fin}) "
        f"ORDER BY change, k"
    ).df
    rows, schema = out.collect(), out.schema
    eng.execute(f"DROP TABLE {t}")
    return spark.createDataFrame(rows, schema)


_add(
    "q48_cdc_table_changes",
    _q48cdc,
    """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(o_totalprice AS DECIMAL(15,2)) AS price
      FROM orders WHERE o_orderkey % 5 = 0)
    SELECT change, k, st, price FROM (
      SELECT 'delete' AS change, k, st, CAST(price AS DOUBLE) AS price
      FROM base WHERE st = 'F' AND k % 25 = 0
      UNION ALL
      SELECT 'insert' AS change, k, st,
             CAST(price + CAST(1.00 AS DECIMAL(3,2)) AS DOUBLE) AS price
      FROM base WHERE st = 'F' AND k % 25 = 0
      UNION ALL
      SELECT 'delete' AS change, k, st, CAST(price AS DOUBLE) AS price
      FROM base WHERE st = 'O' AND k % 35 = 0
    ) u ORDER BY change, k
    """,
)

def _q51_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT relational surface (r7): the SQL-standard bracketed form
    ``FROM t PIVOT (agg FOR col IN (...))`` parses identically in Spark
    and DuckDB with identical output column naming, so the statement
    passes through the engine untranslated — a dialect row verified by
    equality, not a shim. Reference: DuckDB PIVOT (the reference
    delegates its relational surface to DuckDB; SURVEY §2.3). r8: the
    count cells are coalesced to 0 like the engine's duckdb-dialect
    path does (DuckDB zero-fills empty pivot count cells; no cell is
    empty at the tested SFs, but the parity must not depend on that)."""
    ensure_tables(spark, sf_dir)
    df = spark.sql(_PIVOT_SQL)
    return df.select(
        "pri",
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ("f_cnt", "o_cnt", "p_cnt")
        ],
    )


_PIVOT_SQL = """
    SELECT * FROM (
      SELECT o_orderpriority AS pri, o_orderstatus AS st FROM orders
    ) PIVOT (count(*) FOR st IN ('F' AS f_cnt, 'O' AS o_cnt, 'P' AS p_cnt))
    ORDER BY pri
"""

_add("q51_pivot", _q51_pivot, _PIVOT_SQL)


def _q52_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT relational surface (r7): ``UNPIVOT (val FOR name IN
    (cols))`` — same dialect-common pass-through as q51_pivot."""
    ensure_tables(spark, sf_dir)
    return spark.sql(_UNPIVOT_SQL)


_UNPIVOT_SQL = """
    SELECT k, metric, val FROM (
      SELECT l_linestatus AS k, round(sum(l_quantity), 2) AS qty,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM lineitem GROUP BY l_linestatus
    ) UNPIVOT (val FOR metric IN (qty, cnt)) ORDER BY k, metric
"""

_add("q52_unpivot", _q52_unpivot, _UNPIVOT_SQL)


# -- Q51: client-dialect battery (r9) -----------------------------------------
# The reference's clients speak DuckDB SQL end-to-end
# (swanlake-client/src/client.rs:109-172 issues DuckDB-dialect text over
# ADBC); this battery runs DuckDB-native spellings through a
# client_dialect='duckdb' SESSION — the transpile-at-execute path the
# wire surface uses — and the oracle is the SAME text verbatim on
# DuckDB. Arms: FROM-first syntax, fractional-second epoch(), OOB/0/
# negative list_element, 3-arg to_base, string_agg ORDER BY.
_Q51_SQL = """
    SELECT src, k, v FROM (
      FROM orders SELECT 'ff' AS src, o_orderstatus AS k,
           CAST(count(*) AS DOUBLE) AS v GROUP BY o_orderstatus
      UNION ALL
      SELECT 'ep' AS src, 'lit' AS k,
             epoch(TIMESTAMP '2000-01-01 00:00:00.5') AS v
      UNION ALL
      FROM orders SELECT 'ep' AS src, 'min' AS k,
           min(epoch(o_orderdate)) AS v
      UNION ALL
      SELECT 'le' AS src, concat('i', CAST(i AS STRING)) AS k,
             CAST(coalesce(list_element(list_value(10,20,30), i), -1)
                  AS DOUBLE) AS v
      FROM (VALUES (0),(2),(5),(-1)) t(i)
      UNION ALL
      SELECT 'tb' AS src, to_base(n, 2, 8) AS k, CAST(n AS DOUBLE) AS v
      FROM (VALUES (5),(255)) t(n)
      UNION ALL
      FROM (SELECT DISTINCT o_orderpriority AS p FROM orders) d
      SELECT 'sa' AS src, string_agg(p, '|' ORDER BY p) AS k,
             CAST(42 AS DOUBLE) AS v
    ) u ORDER BY src, k, v
"""


def _q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine

    eng = Engine(
        spark=spark, config=EngineConfig(client_dialect="duckdb")
    )
    sid = f"q51-{uuid.uuid4().hex[:8]}"
    sess = eng.sessions.get_or_create(sid)
    try:
        # temp views don't cross newSession forks: register the sf
        # tables in the SESSION's namespace (what attach_warehouse does
        # for real clients, session.py:181)
        ensure_tables(sess.spark, sf_dir)
        return sess.query(_Q51_SQL).df
    finally:
        eng.sessions.remove(sid)


_add("q51_dialect_battery", _q51, _Q51_SQL)


# -- Q52: r9 dialect-semantics battery ---------------------------------------
# The round-9 dialect surface through a client_dialect session, oracle
# = the SAME text verbatim on DuckDB. Arms: bracket indexing (1-based,
# OOB/0 → NULL), list comprehension, `^` exponentiation, DuckDB
# division (double + NULL on zero), boundary-crossing date_diff over a
# real column, half-away integer casts over decimals, gcd, backslash
# regex literals (the escape layer), window ORDER BY over a nullable
# key (NULLS LAST default), and a dollar-quoted string with numeric
# underscores.
_Q52_SQL = """
    SELECT src, k, v FROM (
      SELECT 'brk' AS src, concat('i', CAST(i AS STRING)) AS k,
             CAST(coalesce(([10,20,30])[i], -1) AS DOUBLE) AS v
      FROM (VALUES (1),(3),(0),(5),(-1)) t(i)
      UNION ALL
      SELECT 'cmp' AS src, 'c' AS k,
             CAST(([e + 1 FOR e IN [1,2,3] IF e > 1])[1] AS DOUBLE) AS v
      UNION ALL
      SELECT 'pow' AS src, 'p' AS k, 2 ^ 10 AS v
      UNION ALL
      SELECT 'div' AS src, 'zero' AS k, coalesce(1 / 0, -1) AS v
      UNION ALL
      SELECT 'div' AS src, 'dec' AS k, 1.0 / 8.0 AS v
      UNION ALL
      FROM orders SELECT 'dd' AS src, 'msum' AS k,
           CAST(sum(date_diff('month', DATE '1995-01-31', o_orderdate))
                AS DOUBLE) AS v
      UNION ALL
      FROM lineitem SELECT 'cast' AS src, 'half' AS k,
           CAST(sum((l_discount * 10 + 0.5)::INT) AS DOUBLE) AS v
      UNION ALL
      FROM orders SELECT 'gcd' AS src, 'g' AS k,
           CAST(sum(gcd(o_orderkey % 100, 12)) AS DOUBLE) AS v
      UNION ALL
      SELECT 'rex' AS src, regexp_extract('abc123', '\\d+') AS k,
             1.0 AS v
      UNION ALL
      SELECT 'ord' AS src, coalesce(CAST(x AS STRING), 'n') AS k,
             CAST(row_number() OVER (ORDER BY x) AS DOUBLE) AS v
      FROM (VALUES (2),(NULL),(1)) t(x)
      UNION ALL
      SELECT 'lex' AS src, $$it's 1_000$$ AS k,
             CAST(1_000 AS DOUBLE) AS v
    ) u ORDER BY src, k, v
"""


def _q52r9(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine

    eng = Engine(
        spark=spark, config=EngineConfig(client_dialect="duckdb")
    )
    sid = f"q52-{uuid.uuid4().hex[:8]}"
    sess = eng.sessions.get_or_create(sid)
    try:
        ensure_tables(sess.spark, sf_dir)
        return sess.query(_Q52_SQL).df
    finally:
        eng.sessions.remove(sid)


_add("q52_r9_semantics_battery", _q52r9, _Q52_SQL)


# -- Q53: r10 dialect-semantics battery ---------------------------------------
# The round-10 dialect surface through a client_dialect session, oracle
# = the SAME text verbatim on DuckDB. Arms: three-valued membership in
# VALUE position (= ANY / NOT IN over NULL-bearing subqueries, encoded
# -1/0/1 so NULL is distinguishable from FALSE; plus a table-scale
# IS-NULL observation arm), three-valued list/struct comparisons with
# NULL elements, the string_agg all-NULL count witness, array_agg NULL
# retention + explicit NULLS FIRST in-call ordering, string_agg DESC
# NULLS LAST over real data, the -2 ^ 2 sign matrix, CASE…END and
# FILTER(WHERE…) operands under operator rewrites, and
# fractional/exponent numeric underscores through a VARCHAR cast.
_Q53_SQL = """
    SELECT src, k, v FROM (
      SELECT 'mem' AS src, concat('any', CAST(i AS STRING)) AS k,
             CAST(CASE WHEN r IS NULL THEN -1 WHEN r THEN 1 ELSE 0 END
                  AS DOUBLE) AS v
      FROM (SELECT i, i = ANY (SELECT x FROM (VALUES (1),(NULL)) q(x)) AS r
            FROM (VALUES (1),(5)) t(i)) s
      UNION ALL
      SELECT 'mem' AS src, concat('nin', CAST(i AS STRING)) AS k,
             CAST(CASE WHEN r IS NULL THEN -1 WHEN r THEN 1 ELSE 0 END
                  AS DOUBLE) AS v
      FROM (SELECT i, i NOT IN (SELECT x FROM (VALUES (1),(NULL)) q(x)) AS r
            FROM (VALUES (1),(5)) t(i)) s
      UNION ALL
      FROM orders SELECT 'mem' AS src, 'tbl' AS k,
           CAST(count(CASE WHEN (o_orderkey NOT IN (SELECT NULL))
                           IS NULL THEN 1 END) AS DOUBLE) AS v
      UNION ALL
      SELECT 'lst' AS src, concat('c', CAST(n AS STRING)) AS k,
             CAST(CASE WHEN r IS NULL THEN -1 WHEN r THEN 1 ELSE 0 END
                  AS DOUBLE) AS v
      FROM (
        SELECT 1 AS n, [1,NULL] = [1,NULL] AS r UNION ALL
        SELECT 2, [1,NULL] = [2,NULL] UNION ALL
        SELECT 3, [1,NULL] < [1,2] UNION ALL
        SELECT 4, [1] < [1,NULL] UNION ALL
        SELECT 5, {'a': NULL} = {'a': NULL} UNION ALL
        SELECT 6, {'a': 1, 'b': NULL} = {'a': 2, 'b': NULL}
      ) s
      UNION ALL
      SELECT 'agg' AS src,
             coalesce(string_agg(CASE WHEN i > 10 THEN 'x' END, ','),
                      'allnull') AS k, 1.0 AS v
      FROM (VALUES (1),(2)) t(i)
      UNION ALL
      SELECT 'agg' AS src,
             array_to_string(list_transform(
               array_agg(x ORDER BY x NULLS FIRST),
               e -> coalesce(CAST(e AS STRING), 'n')), '|') AS k,
             CAST(2 AS DOUBLE) AS v
      FROM (VALUES (2),(NULL),(1)) t(x)
      UNION ALL
      FROM (SELECT DISTINCT o_orderpriority AS p FROM orders) d
      SELECT 'agg' AS src,
             string_agg(p, '+' ORDER BY p DESC NULLS LAST) AS k,
             CAST(3 AS DOUBLE) AS v
      UNION ALL
      SELECT 'pre' AS src, 'pm' AS k, -2 ^ 2 AS v
      UNION ALL
      SELECT 'pre' AS src, 'case' AS k,
             CASE WHEN 1=1 THEN 4 ELSE 2 END / 3 AS v
      UNION ALL
      FROM lineitem SELECT 'pre' AS src, 'fil' AS k,
           CAST(count(*) FILTER (WHERE l_quantity > 25) % 1000
                AS DOUBLE) AS v
      UNION ALL
      SELECT 'lex' AS src, (1_0.5_0)::VARCHAR AS k,
             CAST(1e1_0 AS DOUBLE) AS v
    ) u ORDER BY src, k, v
"""


def _q53r10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine

    eng = Engine(
        spark=spark, config=EngineConfig(client_dialect="duckdb")
    )
    sid = f"q53-{uuid.uuid4().hex[:8]}"
    sess = eng.sessions.get_or_create(sid)
    try:
        ensure_tables(sess.spark, sf_dir)
        return sess.query(_Q53_SQL).df
    finally:
        eng.sessions.remove(sid)


_add("q53_r10_semantics_battery", _q53r10, _Q53_SQL)


# -- Q54: r11 dialect-semantics battery ---------------------------------------
# The round-11 dialect surface through a client_dialect session, oracle
# = the SAME text verbatim on DuckDB. Arms: NESTED three-valued
# collection comparisons (depth-2/3 lists, list-of-struct,
# struct-of-list, encoded -1/0/1 so NULL is distinguishable from
# FALSE; plus || binding tighter than =), string bracket slicing over
# parenthesized/function/cast bases, the split_part empty/NULL
# separator matrix, list_intersect NULL-drop + asymmetric NULL args,
# list_concat NULL-as-empty vs || NULL propagation, NULL membership
# probes, any_value NULL-skipping at table scale, bar eighth-block
# rendering, struct_extract, * REPLACE through a subquery at table
# scale, json_array_length over a NULL-bearing column, literal-masked
# `//`, and a value-observed IN-subquery under coalesce in WHERE.
_Q54_SQL = """
    SELECT src, k, v FROM (
      SELECT 'nest' AS src, concat('c', CAST(n AS STRING)) AS k,
             CAST(CASE WHEN r IS NULL THEN -1 WHEN r THEN 1 ELSE 0 END
                  AS DOUBLE) AS v
      FROM (
        SELECT 1 AS n, [[1,NULL]] = [[1,NULL]] AS r UNION ALL
        SELECT 2, [{'a':1},{'a':NULL}] = [{'a':1},{'a':NULL}] UNION ALL
        SELECT 3, {'a':[1,NULL]} = {'a':[1,NULL]} UNION ALL
        SELECT 4, [[1,2],[3,NULL]] < [[1,2],[3,4]] UNION ALL
        SELECT 5, [[2]] = [[1,NULL]] UNION ALL
        SELECT 6, [[1]] = [[1],[2]] UNION ALL
        SELECT 7, [0] || [1] = [2] UNION ALL
        SELECT 8, [[[1,NULL]]] = [[[1,NULL]]] UNION ALL
        SELECT 9, [1,NULL] IN ([1,NULL], [2]) UNION ALL
        SELECT 10, [NULL] BETWEEN [NULL] AND [2] UNION ALL
        SELECT 11, row(1,NULL) = row(1,NULL) UNION ALL
        SELECT 12, ([1,NULL]::INT[]) = ([1,NULL]::INT[]) UNION ALL
        SELECT 13, {'a':NULL} < {'a':1}
      ) s
      UNION ALL
      SELECT 'slc' AS src,
             concat_ws('|', ('abcdef')[2:4], ('abcdef')[-3:-1],
                       ('abcdef')[:3], ('abcdef')[4:2],
                       upper('abc')[2], ('ab' || 'cd')[2:3]) AS k,
             1.0 AS v
      UNION ALL
      SELECT 'spl' AS src,
             concat_ws('|', split_part('a,b,c', '', 2),
                       split_part('a,b,c', NULL, 1),
                       split_part('a,b,c', ',', -2),
                       split_part(NULL, ',', 1) || 'e',
                       split_part('héllo', '', 2)) AS k,
             2.0 AS v
      UNION ALL
      SELECT 'lfn' AS src,
             array_to_string(list_sort(
               list_intersect([1,2,NULL],[2,NULL,3]),
               'ASC', 'NULLS FIRST'), ',') AS k,
             CAST(CASE WHEN list_contains([1,NULL], NULL) IS NULL
                  THEN 10 ELSE 0 END
                  + CASE WHEN [1,2] || NULL IS NULL THEN 100 ELSE 0 END
                  + len(list_concat([1], NULL)) AS DOUBLE) AS v
      UNION ALL
      FROM orders SELECT 'agg' AS src, 'av' AS k,
           CAST(any_value(CASE WHEN o_orderkey % 2 = 0 THEN 7 END)
                AS DOUBLE) AS v
      UNION ALL
      SELECT 'bar' AS src, bar(i, 0, 10, 10) AS k, CAST(i AS DOUBLE) AS v
      FROM (VALUES (0.3),(4.9),(5),(12),(-1)) t(i)
      UNION ALL
      SELECT 'st' AS src, 'x' AS k,
             CAST(struct_extract({'a': 7, 'b': 'x'}, 'a') AS DOUBLE) AS v
      UNION ALL
      FROM (SELECT * REPLACE (o_totalprice * 0 + 3 AS o_totalprice)
            FROM orders) r
      SELECT 'rep' AS src, 'sum' AS k,
             CAST(sum(o_totalprice) AS DOUBLE) AS v
      UNION ALL
      FROM orders SELECT 'jal' AS src, 'n' AS k,
           CAST(coalesce(sum(json_array_length(
                CASE WHEN o_orderkey % 3 = 0 THEN '[1,2]' END)), -1)
                AS DOUBLE) AS v
      UNION ALL
      SELECT 'div' AS src, 'mask' AS k,
             CAST(length('1.5') // 2 AS DOUBLE) AS v
      UNION ALL
      FROM orders SELECT 'inw' AS src, 'co' AS k,
           CAST(count(*) AS DOUBLE) AS v
      WHERE coalesce(o_orderkey IN (SELECT NULL), true)
    ) u ORDER BY src, k, v
"""


def _q54r11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine

    eng = Engine(
        spark=spark, config=EngineConfig(client_dialect="duckdb")
    )
    sid = f"q54-{uuid.uuid4().hex[:8]}"
    sess = eng.sessions.get_or_create(sid)
    try:
        ensure_tables(sess.spark, sf_dir)
        return sess.query(_Q54_SQL).df
    finally:
        eng.sessions.remove(sid)


_add("q54_r11_semantics_battery", _q54r11, _Q54_SQL)


# -- Q55: r12 dialect-semantics battery ---------------------------------------
# The round-12 dialect surface through a client_dialect session, oracle
# = the SAME text verbatim on DuckDB. Arms: bare parenthesized
# row-value comparisons three-valued in every context (encoded -1/0/1
# so NULL is distinguishable from FALSE), 1-arg log→log10 + chr code
# points, the DECIMAL-cast truncation matrix (decimal sources truncate
# toward zero, double/string sources round), median's DECIMAL discrete
# dispatch, the embedding-distance SQL spellings (incl. DuckDB's
# zero-norm −1.0 clamp), table-valued generate_series/range (integer
# and temporal), COLUMNS(regex) expansion over orders at table scale,
# and the r12 loud-residue closures (in-call ORDER BY on sum, 2-arg
# array_length, list_extract string branch, sub-second extract parts,
# lambda-body len over list elements, prefix @ abs).
_Q55_SQL = """
    SELECT src, k, v FROM (
      SELECT 'row' AS src, concat('c', CAST(n AS STRING)) AS k,
             CAST(CASE WHEN r IS NULL THEN -1 WHEN r THEN 1 ELSE 0 END
                  AS DOUBLE) AS v
      FROM (
        SELECT 1 AS n, (1, NULL) = (1, 2) AS r UNION ALL
        SELECT 2, (1, 5) IN ((1, NULL), (3, 4)) UNION ALL
        SELECT 3, (1, NULL) < (1, 2) UNION ALL
        SELECT 4, ((1,2),(3,NULL)) = ((1,2),(3,4)) UNION ALL
        SELECT 5, (1,2) IN ((3,4),(1,2)) UNION ALL
        SELECT 6, (2, NULL) <= (1, 2) UNION ALL
        SELECT 7, (1,NULL) BETWEEN (0,0) AND (2,2) UNION ALL
        SELECT 8, CASE WHEN (1, NULL) = (1, 2) THEN true
                       ELSE false END
      ) s
      UNION ALL
      SELECT 'fn' AS src,
             concat(chr(8364), chr(65), '|',
                    CAST(log(100) AS STRING), '|',
                    CAST(log(2, 8) AS STRING)) AS k,
             1.0 AS v
      UNION ALL
      SELECT 'dec' AS src, concat('d', CAST(n AS STRING)) AS k,
             CAST(x AS DOUBLE) AS v
      FROM (
        SELECT 1 AS n, 2.55::DECIMAL(3,1) AS x UNION ALL
        SELECT 2, 2.56::DECIMAL(3,1) UNION ALL
        SELECT 3, (-2.55)::DECIMAL(3,1) UNION ALL
        SELECT 4, 2.999::DECIMAL(2,0) UNION ALL
        SELECT 5, '2.999'::DECIMAL(2,0) UNION ALL
        SELECT 6, (2.56::DOUBLE)::DECIMAL(3,1) UNION ALL
        SELECT 7, 2.5678::DECIMAL
      ) d
      UNION ALL
      SELECT 'med' AS src, 'm' AS k,
             CAST(median(x) AS DOUBLE) AS v
      FROM (VALUES (1.0),(2.0),(4.0),(9.0)) t(x)
      UNION ALL
      SELECT 'emb' AS src, 'e1' AS k,
             round(list_cosine_similarity([1.0,2.0,3.0],
                                          [4.0,5.0,6.0]), 7) AS v
      UNION ALL
      SELECT 'emb', 'e2', list_dot_product([1.0,2.0],[3.0,4.0])
      UNION ALL
      SELECT 'emb', 'e3', list_distance([1.0,2.0],[4.0,6.0])
      UNION ALL
      SELECT 'emb', 'e4', list_cosine_similarity([0.0,0.0],[1.0,2.0])
      UNION ALL
      SELECT 'emb', 'e5', CAST(list_any_value([NULL, 3, 4]) AS DOUBLE)
      UNION ALL
      SELECT 'ser' AS src, 'gs' AS k,
             CAST(sum(generate_series) AS DOUBLE) AS v
      FROM generate_series(1,100)
      UNION ALL
      SELECT 'ser', 'rg', CAST(sum(range) AS DOUBLE)
      FROM range(1,100)
      UNION ALL
      SELECT 'ser', 'dt', CAST(count(*) AS DOUBLE)
      FROM generate_series(DATE '2020-01-01', DATE '2020-03-01',
                           INTERVAL 1 DAY)
      UNION ALL
      SELECT 'col' AS src, 'n' AS k,
             CAST(count(*) + sum(o_orderkey * 0) AS DOUBLE) AS v
      FROM (SELECT COLUMNS('o_order.*') FROM orders) c
      UNION ALL
      SELECT 'res', 'r1', CAST(sum(x ORDER BY x) AS DOUBLE)
      FROM (VALUES (1),(2),(3)) t(x)
      UNION ALL
      SELECT 'res', 'r2', CAST(array_length([1,2,3], 1) AS DOUBLE)
      UNION ALL
      SELECT 'res',
             concat('x', list_extract('hello', 2),
                    list_extract('hello', -1)), 3.0
      UNION ALL
      SELECT 'res', 'r4',
             CAST(extract(microseconds FROM
                  TIMESTAMP '2020-01-01 01:02:03.456789') AS DOUBLE)
      UNION ALL
      SELECT 'res', 'r5', CAST(@(-7) AS DOUBLE)
      UNION ALL
      SELECT 'res',
             array_to_string(list_transform([[1,2],[3]],
                                            x -> len(x)), ','), 6.0
    ) u ORDER BY src, k, v
"""


def _q55r12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine

    eng = Engine(
        spark=spark, config=EngineConfig(client_dialect="duckdb")
    )
    sid = f"q55-{uuid.uuid4().hex[:8]}"
    sess = eng.sessions.get_or_create(sid)
    try:
        ensure_tables(sess.spark, sf_dir)
        return sess.query(_Q55_SQL).df
    finally:
        eng.sessions.remove(sid)


_add("q55_r12_semantics_battery", _q55r12, _Q55_SQL)

# Curated selection for the driver window: unique-surface batteries only;
# everything redundant with the TPC-H suite (q01/q03/q12/q13/... shapes)
# is verified by the pytest corpus instead.
DRIVER_ORACLE_NAMES: tuple[str, ...] = (
    # r5 rotation: q22d_grouping_battery / q24b_window_battery /
    # q28b_setops_battery / q34_scalar_battery moved OUT of the window
    # (long-stable since r2, still hash-matched every run by
    # tests/test_oracle_corpus.py); their slots went to the events trio
    # + pipe_bpe_tokenize (pipeline.py DRIVER_PIPELINE_EXCLUDE).
    # r6 folds (VERDICT r5 #1): q43+q44 → q43_array_json_battery and
    # q46+q37+q45 → q45_ddl_dml_battery; the three freed slots go to
    # pipe_span_dedup, pipe_quality_classifier and
    # q47_matview_incremental. The folded singles stay hash-matched in
    # tests/test_oracle_corpus.py.
    # r9 rotation #2: q43_array_json_battery (window-green since r6)
    # moves to corpus-only — still hash-matched every run by
    # tests/test_oracle_corpus.py — and its slot goes to the r9
    # dialect-semantics battery (bracket indexing, `^`, DuckDB
    # division, boundary date_diff, type-dependent int-cast rounding,
    # gcd, the escape layer, NULLS-LAST ordering, dollar quotes)
    # through a client_dialect session, oracle = the same text
    # verbatim.
    # r11 rotation: q52_r9_semantics_battery (window-green since r9)
    # moves to corpus-only — still hash-matched every pytest run by
    # tests/test_oracle_corpus.py — and its slot goes to the r11
    # dialect-semantics battery (nested three-valued collection
    # comparisons, string bracket slicing, the split_part matrix,
    # list_intersect/list_concat/membership NULL semantics, any_value
    # NULL-skipping, bar, struct_extract, * REPLACE at table scale,
    # json_array_length NULL guard, literal-masked //, value-observed
    # IN under coalesce in WHERE) through a client_dialect session,
    # oracle = the same text verbatim.
    "q54_r11_semantics_battery",
    # r12 rotation: q53_r10_semantics_battery (window-green since r10)
    # moves to corpus-only — still hash-matched every pytest run by
    # tests/test_oracle_corpus.py — and its slot goes to the r12
    # dialect-semantics battery (bare row-value three-valued
    # comparisons in every context, log/chr semantics, the
    # DECIMAL-cast truncation matrix, median's DECIMAL discrete
    # dispatch, the embedding-distance SQL spellings, table-valued
    # generate_series/range, COLUMNS(regex) at table scale, and the
    # r12 loud-residue closures) through a client_dialect session,
    # oracle = the same text verbatim.
    "q55_r12_semantics_battery",
    # r10 rotation: q45_ddl_dml_battery (window-green since r6, the
    # longest-stable non-TPC-H battery) moves to corpus-only — still
    # hash-matched every pytest run by tests/test_oracle_corpus.py —
    # and its slot goes to the r10 dialect-semantics battery
    # (three-valued membership in value position, NULL-element
    # list/struct comparisons, string_agg count witness, array_agg
    # NULL retention + explicit null orders, the -2^2 sign matrix,
    # CASE…END / FILTER(WHERE…) operand scanning, underscore literals)
    # through a client_dialect session, oracle = the same text
    # verbatim.
    "q47_matview_incremental",
    # r7 (VERDICT r6 #4): dedicated CDC row at data scale — the slot
    # came from folding the three near-dup singles into
    # pipe_neardup_battery (pipeline.py); the other freed slot went to
    # pipe_heavy_hitters.
    "q48_cdc_table_changes",
    # r9 rotation (VERDICT r8 #6): q50_quantile_battery (window-green
    # since r3, the longest-stable oracle battery) moves to corpus-only
    # — still hash-matched every run by tests/test_oracle_corpus.py —
    # and its slot goes to the client-dialect battery: DuckDB-native
    # SQL through a client_dialect session (the wire path the
    # reference's ADBC clients use), oracle = the same text verbatim.
    "q51_dialect_battery",
    # q47_distinct_topk_offset and q23_approx_count_distinct stay
    # pytest-only: their slots go to pipe_dedup_embedding and
    # pipe_asof_join (oracle-green pipeline operators beat a rows-only
    # sketch row in the driver window; q23's ±5% tolerance gate runs in
    # compare_oracle + the pytest corpus, q47's DISTINCT/OFFSET surface
    # stays corpus-covered).
)
