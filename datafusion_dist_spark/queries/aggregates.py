"""Aggregations and set operations (SURVEY §2.C).

All exercise Spark's built-in two-phase hash aggregation
(HashAggregate(partial) → Exchange → HashAggregate(final)) — the exact
physical shape the reference cuts stages around
(``dist/src/planner.rs:135-136``, plan golden at
``integration-tests/tests/planner.rs:167-183``). Map-side partial
aggregation is what makes these scale: the shuffle carries one row per
(partition, group), not per input row.

Money aggregates use the integer-cents technique (see registry.py) so
the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_dist_spark.catalog import load_table
from datafusion_dist_spark.operators import sketch
from datafusion_dist_spark.operators.common import persist_plan
from datafusion_dist_spark.registry import register, register_sql


def cents(col: str) -> F.Column:
    """Exact integer cents from a 2-decimal money double."""
    return F.round(F.col(col) * 100).cast("bigint")


@register(
    "agg_global",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0
                 AS sum_price,
               MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
        FROM lineitem
    """,
    doc="Global aggregate, no GROUP BY — single 0-key group (slt:149-153).",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round("l_quantity").cast("bigint")).alias("sum_qty"),
        (F.sum(cents("l_extendedprice")).cast("double") / 100.0).alias("sum_price"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
    )


@register(
    "agg_groupby_multi",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    doc="GROUP BY multiple columns (slt:94-125); two-phase hash agg.",
)
def agg_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round("l_quantity").cast("bigint")).alias("sum_qty"),
    )


@register(
    "agg_null_semantics",
    oracle="""
        SELECT NULLIF(o_orderstatus, 'O') AS status_grp,
               count(*) AS n_rows,
               count(NULLIF(o_custkey % 7, 0)) AS n_nonnull,
               CAST(SUM(NULLIF(o_custkey % 7, 0)) AS BIGINT) AS sum_nonnull,
               MIN(NULLIF(o_custkey % 7, 0)) AS min_nonnull,
               MAX(NULLIF(o_custkey % 7, 0)) AS max_nonnull
        FROM orders GROUP BY NULLIF(o_orderstatus, 'O')
    """,
    doc="NULL semantics: NULL group key forms its own group "
    "(slt:136-147) and SUM/MIN/MAX/COUNT skip NULLs (slt:127-134). "
    "NULLs synthesized via NULLIF (testdata has none).",
)
def agg_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    v = F.nullif(F.col("o_custkey") % 7, F.lit(0))
    return (
        o.withColumn("status_grp", F.nullif(F.col("o_orderstatus"), F.lit("O")))
        .withColumn("v", v)
        .groupBy("status_grp")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("v").alias("n_nonnull"),
            F.sum("v").alias("sum_nonnull"),
            F.min("v").alias("min_nonnull"),
            F.max("v").alias("max_nonnull"),
        )
    )


@register(
    "agg_count_star_empty",
    oracle="SELECT count(*) AS n FROM orders WHERE o_orderkey = -1",
    doc="COUNT(*) over empty input returns one row with 0 (slt:73-88).",
)
def agg_count_star_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") == -1).agg(F.count("*").alias("n"))


@register(
    "agg_groupby_empty",
    oracle="""
        SELECT o_orderstatus, count(*) AS n FROM orders
        WHERE o_orderkey = -1 GROUP BY o_orderstatus
    """,
    doc="GROUP BY over empty input returns zero rows (slt:155-158).",
)
def agg_groupby_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") == -1)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


@register(
    "agg_having",
    oracle="""
        SELECT o_custkey, count(*) AS n_orders
        FROM orders GROUP BY o_custkey HAVING count(*) > 12
    """,
    doc="HAVING = post-aggregate filter (slt:102-107).",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") > 12)
    )


@register(
    "agg_count_distinct",
    oracle="""
        SELECT l_returnflag,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT l_partkey) AS n_part
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="COUNT(DISTINCT) — expand+two-phase agg in Spark; exact.",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct("l_partkey").alias("n_part"),
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # sketch values are engine-specific; rows-only check
    doc="approx_count_distinct (HyperLogLog++) — the scale path for "
    "distinct counts at 100 TB. No oracle: sketch estimates are "
    "engine-specific by construction (SURVEY §2.C 'parity stretch').",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders")
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (SURVEY §2.C aggregations, parity stretch).",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round("l_quantity").cast("bigint")).alias("sum_qty"),
    )


@register(
    "agg_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets (parity stretch).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


# -- set operations --------------------------------------------------------

register_sql(
    "union_distinct",
    spark_sql="""
        SELECT c_nationkey AS k FROM customer
        UNION
        SELECT s_nationkey AS k FROM supplier
    """,
    oracle="""
        SELECT c_nationkey AS k FROM customer
        UNION
        SELECT s_nationkey AS k FROM supplier
    """,
    doc="UNION (distinct) — physical shape = partial+final agg on all "
    "columns, exactly how the reference plans it (slt:51-56, "
    "planner.rs tests:167-183). SQL API used because PySpark .union() "
    "is UNION ALL (SURVEY §7 risk register).",
)

register_sql(
    "union_all",
    spark_sql="""
        SELECT n_nationkey AS k, n_name AS name FROM nation
        UNION ALL
        SELECT r_regionkey AS k, r_name AS name FROM region
    """,
    oracle="""
        SELECT n_nationkey AS k, n_name AS name FROM nation
        UNION ALL
        SELECT r_regionkey AS k, r_name AS name FROM region
    """,
    doc="UNION ALL (no dedup, no shuffle — pure concatenation).",
)

register_sql(
    "intersect_distinct",
    spark_sql="""
        SELECT c_nationkey AS k FROM customer
        INTERSECT
        SELECT s_nationkey AS k FROM supplier
    """,
    oracle="""
        SELECT c_nationkey AS k FROM customer
        INTERSECT
        SELECT s_nationkey AS k FROM supplier
    """,
    doc="INTERSECT (distinct) set op.",
)

register_sql(
    "except_distinct",
    spark_sql="""
        SELECT c_nationkey AS k FROM customer
        EXCEPT
        SELECT s_nationkey AS k FROM supplier
    """,
    oracle="""
        SELECT c_nationkey AS k FROM customer
        EXCEPT
        SELECT s_nationkey AS k FROM supplier
    """,
    doc="EXCEPT (distinct) set op.",
)


register_sql(
    "agg_grouping_sets",
    spark_sql="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
                 AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
    """,
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
                 AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS with grouping() indicator columns "
    "(generalizes the cube/rollup entries; one Expand + single "
    "two-phase aggregation in Spark).",
)


@register(
    "agg_listagg",
    oracle="""
        SELECT n_nationkey,
               string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
               count(*) AS n_suppliers
        FROM nation JOIN supplier ON s_nationkey = n_nationkey
        GROUP BY n_nationkey
    """,
    doc="String aggregation (LISTAGG/string_agg): deterministic via "
    "in-group ORDER BY; Spark side sorts the collected array before "
    "joining (same total order, no sort-in-agg shuffle pressure).",
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        n.join(s, s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
                "suppliers"
            ),
            F.count("*").alias("n_suppliers"),
        )
    )


@register(
    "agg_bool_bitwise",
    oracle="""
        SELECT o_orderstatus,
               bool_and(o_totalprice > 1000) AS all_over_1k,
               bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
               bit_and(o_orderkey) AS key_and,
               bit_or(o_orderkey % 256) AS key_or,
               bit_xor(o_orderkey) AS key_xor
        FROM orders GROUP BY o_orderstatus
    """,
    doc="Boolean and bitwise aggregates: bool_and/bool_or, "
    "bit_and/bit_or/bit_xor (all built-in, map-side-combinable).",
)
def agg_bool_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or(F.col("o_orderkey") % 256).alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
    )


@register(
    "agg_argmax",
    oracle="""
        SELECT o_custkey,
               arg_max(CAST(o_orderdate AS DATE), o_orderkey) AS latest_key_date,
               arg_min(CAST(o_orderdate AS DATE), o_orderkey) AS first_key_date,
               max(o_orderkey) AS max_key
        FROM orders WHERE o_custkey < 200
        GROUP BY o_custkey
    """,
    doc="max_by/min_by (argmax/argmin) aggregates keyed on the unique "
    "o_orderkey, so results are deterministic across engines.",
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    return o.groupBy("o_custkey").agg(
        F.max_by(F.col("o_orderdate").cast("date"), "o_orderkey").alias(
            "latest_key_date"
        ),
        F.min_by(F.col("o_orderdate").cast("date"), "o_orderkey").alias(
            "first_key_date"
        ),
        F.max("o_orderkey").alias("max_key"),
    )


register_sql(
    "agg_histogram",
    spark_sql="""
        SELECT width_bucket(o_totalprice, 0, 600000, 24) AS bucket,
               count(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
                 AS bucket_total
        FROM orders
        GROUP BY width_bucket(o_totalprice, 0, 600000, 24)
    """,
    oracle="""
        SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                         WHEN o_totalprice >= 600000 THEN 25
                         ELSE floor(o_totalprice / 25000) + 1 END AS BIGINT)
                 AS bucket,
               count(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
                 AS bucket_total
        FROM orders
        GROUP BY 1
    """,
    doc="Equi-width histogram via width_bucket: 24 price bins, count + "
    "mass per bin (a single two-phase aggregation).",
)


register_sql(
    "intersect_all",
    spark_sql="""
        SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 5
        INTERSECT ALL
        SELECT s_suppkey AS k FROM supplier
    """,
    oracle="""
        SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 5
        INTERSECT ALL
        SELECT s_suppkey AS k FROM supplier
    """,
    doc="INTERSECT ALL: bag-semantics intersection (multiplicity = min "
    "of the two sides) — physically a count-compare aggregate, one "
    "shuffle per side.",
)

register_sql(
    "except_all",
    spark_sql="""
        SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 3
        EXCEPT ALL
        SELECT s_suppkey AS k FROM supplier WHERE s_suppkey % 2 = 0
    """,
    oracle="""
        SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 3
        EXCEPT ALL
        SELECT s_suppkey AS k FROM supplier WHERE s_suppkey % 2 = 0
    """,
    doc="EXCEPT ALL: bag-semantics difference (multiplicities "
    "subtract).",
)


@register(
    "agg_mode",
    oracle="""
        WITH counts AS (
            SELECT o_orderpriority, o_orderstatus, count(*) AS n
            FROM orders GROUP BY o_orderpriority, o_orderstatus
        ),
        ranked AS (
            SELECT o_orderpriority, o_orderstatus, n,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY n DESC, o_orderstatus ASC
                   ) AS rn
            FROM counts
        )
        SELECT o_orderpriority, o_orderstatus AS mode_status, n
        FROM ranked WHERE rn = 1
    """,
    doc="Modal value per group with a DETERMINISTIC tiebreak (highest "
    "count, then smallest value) — the built-in mode() leaves ties "
    "engine-defined, so the portable form is count + top-1 window: "
    "one two-phase count on (group, value) then a tiny window over "
    "the distinct combinations. Map-side combine does the heavy "
    "lifting; the window input is |groups|x|values|, not |rows|.",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("n"), F.asc("o_orderstatus")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderpriority", F.col("o_orderstatus").alias("mode_status"), "n")
    )


register_sql(
    "agg_bitmap_distinct",
    spark_sql="""
        SELECT event_type,
               CAST(sum(cnt) AS BIGINT) AS n_users
        FROM (
            SELECT event_type,
                   bitmap_count(bitmap_construct_agg(
                       bitmap_bit_position(user_id))) AS cnt
            FROM events
            GROUP BY event_type, bitmap_bucket_number(user_id)
        )
        GROUP BY event_type
    """,
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY event_type
    """,
    doc="EXACT distinct count via bitmap aggregation: ids bucket into "
    "fixed-width bitmap segments, each (key, bucket) group folds to "
    "one bitmap with map-side partial aggregation, and the final "
    "count sums per-bucket popcounts. Unlike COUNT(DISTINCT) — whose "
    "expand/dedup shuffles every distinct id — the shuffled state is "
    "one bitmap per (key, bucket): the production-scale exact "
    "distinct, verified against the naive COUNT(DISTINCT).",
)


register_sql(
    "agg_group_by_all",
    spark_sql="""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
                   AS total_c
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
                   AS total_c
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
    doc="GROUP BY ALL / ORDER BY ALL resolution sugar (Spark 3.4+ and "
    "DuckDB share the dialect): non-aggregate select items become the "
    "grouping keys, ALL orders by the full select list — the "
    "exploratory-SQL shape users type constantly; physical plan is "
    "the ordinary two-phase aggregate.",
)


# -- frequency sketch -------------------------------------------------------

_CMS_DEPTH, _CMS_WIDTH, _CMS_MIN_EST = 3, 256, 75

_CMS_CELLS_SQL = " UNION ALL ".join(
    f"SELECT {h} AS h, {sketch.bucket_oracle('user_id', h, _CMS_WIDTH)} AS b "
    "FROM events WHERE user_id IS NOT NULL"
    for h in range(_CMS_DEPTH)
)
_CMS_PROBES_SQL = " UNION ALL ".join(
    f"SELECT user_id, {h} AS h, "
    f"{sketch.bucket_oracle('user_id', h, _CMS_WIDTH)} AS b "
    "FROM (SELECT DISTINCT user_id FROM events "
    "WHERE user_id IS NOT NULL)"
    for h in range(_CMS_DEPTH)
)


@register(
    "agg_countmin_heavy_hitters",
    oracle=f"""
        WITH cells AS (
            SELECT h, b, count(*) AS cnt FROM ({_CMS_CELLS_SQL}) GROUP BY h, b
        ),
        probes AS ({_CMS_PROBES_SQL}),
        est AS (
            SELECT p.user_id, min(coalesce(c.cnt, 0)) AS est
            FROM probes p LEFT JOIN cells c ON c.h = p.h AND c.b = p.b
            GROUP BY p.user_id
        )
        SELECT user_id, CAST(est AS BIGINT) AS est_count
        FROM est WHERE est >= {_CMS_MIN_EST}
    """,
    doc="Count-min-sketch heavy hitters over events.user_id: build a "
    f"fixed {_CMS_DEPTH}x{_CMS_WIDTH} counter grid in one scan (explode "
    "to depth cells inside the partial-aggregate stage, so the exchange "
    "carries at most depth*width partials per task regardless of input "
    "rows), broadcast the grid, and estimate each candidate key as the "
    "min of its counters. est >= true count always (collisions only "
    "inflate) — property-tested; the md5 bucket hashes are cross-engine "
    "so the DuckDB oracle reproduces every counter bit-for-bit. The "
    "extension the reference's approx-distinct surface lacks: frequency "
    "estimation whose STATE is constant-size at 100 TB — the grid, not "
    "this query: enumerating candidates as distinct(user_id) here is "
    "for a self-contained deterministic oracle and costs a second scan "
    "+ a key-space shuffle; production callers pass an external "
    "candidate set (watchlist, prior round's hitters, sampled keys) "
    "and pay one scan total. (operators/sketch.py)",
)
def agg_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    cells = sketch.countmin_cells(ev, "user_id", _CMS_DEPTH, _CMS_WIDTH)
    est = sketch.countmin_lookup(
        ev.distinct(), cells, "user_id", _CMS_DEPTH, _CMS_WIDTH
    )
    return est.filter(F.col("est") >= _CMS_MIN_EST).select(
        "user_id", F.col("est").cast("bigint").alias("est_count")
    )


# -- cardinality sketch -----------------------------------------------------

_HLL_M = 1 << sketch.HLL_P
_HLL_ALPHA_M2 = (0.7213 / (1 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M
_HLL_RHO_MAX = sketch.hll_rho_max()
_HLL_SCALE = float(1 << _HLL_RHO_MAX)
_HLL_REGS_SQL = sketch.hll_registers_oracle("user_id", "events")


def _hll_est_sql(rel: str) -> str:
    """The HLL estimate as a DuckDB expression over a relation exposing
    ``touched`` / ``s_touched`` (prefix ``rel`` like 'a.'), mirroring
    operators/sketch.py:hll_estimate_expr exactly — the ONE place the
    estimator math exists on the oracle side. ``s_touched`` is the
    2^rho_max-SCALED integer harmonic sum (rho_weight_scaled): exact
    BIGINT arithmetic until one deterministic cast-to-double + an
    exact power-of-two division, same op order as the Spark side."""
    zeros = f"({_HLL_M} - {rel}touched)"
    total = f"({rel}s_touched + {zeros} * (1::BIGINT << {_HLL_RHO_MAX}))"
    s = f"(CAST({total} AS DOUBLE) / {_HLL_SCALE!r})"
    raw = f"({_HLL_ALPHA_M2!r} / {s})"
    return (
        f"round(CASE WHEN {raw} <= {2.5 * _HLL_M!r} AND {zeros} > 0 "
        f"THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / {zeros}) "
        f"ELSE {raw} END, 4)"
    )


_HLL_SUM_SQL = (
    "count(*) AS touched, "
    f"coalesce(SUM(1::BIGINT << ({_HLL_RHO_MAX} - max_rho)), 0) "
    "AS s_touched"
)


@register(
    "agg_hll_registers",
    oracle=f"SELECT register, max_rho FROM ({_HLL_REGS_SQL})",
    doc="HyperLogLog register table over events.user_id — the "
    "cardinality sibling of the count-min grid, and a transparent "
    "oracle-checkable twin of the reference's approx-distinct surface "
    "(DataFusion's approx_distinct IS an HLL; its registers are opaque "
    f"— ours are {_HLL_M} integer rows hash-checked against DuckDB "
    "bit-for-bit). One scan; the partial max runs inside the scan "
    f"stage so the exchange carries at most {_HLL_M} register partials "
    "per task regardless of input rows or distinct keys, and registers "
    "are MAX-mergeable across shards/batches (property-tested) — the "
    "same constant-state contract as the CMS family. rho uses "
    "binary-string length, never float log2, so both engines share "
    "exact integer math. (operators/sketch.py:hll_registers)",
)
def agg_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return sketch.hll_registers(ev, "user_id")


@register(
    "agg_hll_cardinality",
    oracle=f"""
        WITH regs AS ({_HLL_REGS_SQL}),
        a AS (SELECT {_HLL_SUM_SQL} FROM regs),
        c AS (
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events WHERE user_id IS NOT NULL
        )
        SELECT {_hll_est_sql('')} AS est_distinct,
               CAST({_HLL_M} - touched AS INTEGER) AS zero_registers,
               CAST(touched AS INTEGER) AS touched_registers,
               exact_distinct
        FROM a, c
    """,
    doc="HyperLogLog cardinality estimate from the register table, "
    "beside the exact distinct count it approximates: the one-row "
    "report a 100 TB pipeline uses to size dedup/join plans without "
    "paying a key-space shuffle (the sketch's state is "
    f"{_HLL_M} integers; the exact count here is the self-contained "
    "oracle's control arm, not the production path). The harmonic sum "
    "stays in exact dyadic arithmetic (1/(1<<rho), never pow), so the "
    "estimate is a deterministic function of the data reproduced "
    "bit-for-bit by DuckDB; linear counting takes over in the "
    "small range. (operators/sketch.py:hll_estimate)",
)
def agg_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    regs = sketch.hll_registers(ev, "user_id")
    est = sketch.hll_estimate(regs)
    exact = ev.where(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return est.crossJoin(exact)


_HLL_GROUPED_REGS_SQL = sketch.hll_registers_oracle(
    "user_id", "events", group_cols=("event_type",)
)


@register(
    "agg_hll_grouped",
    oracle=f"""
        WITH regs AS ({_HLL_GROUPED_REGS_SQL}),
        a AS (SELECT event_type, {_HLL_SUM_SQL} FROM regs GROUP BY 1),
        c AS (
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events WHERE user_id IS NOT NULL GROUP BY 1
        )
        SELECT a.event_type,
               {_hll_est_sql('a.')} AS est_distinct,
               CAST({_HLL_M} - a.touched AS INTEGER) AS zero_registers,
               CAST(a.touched AS INTEGER) AS touched_registers,
               c.exact_distinct
        FROM a JOIN c ON a.event_type = c.event_type
    """,
    doc="Per-group HyperLogLog: distinct users PER EVENT TYPE from one "
    "scan — the grouped register build keeps 2^p integers of state per "
    "group instead of shuffling each group's key space (the 'distinct "
    "X per Y' dashboard at 100 TB: per-source distinct docs, per-shard "
    "distinct urls). The per-group exact distinct beside it is the "
    "self-contained oracle's control arm. Same cross-engine integer "
    "bit math as the ungrouped entry; each group's estimate routes "
    "independently through raw-vs-linear-counting, so small groups "
    "exercise the correction while big ones take the harmonic path. "
    "(operators/sketch.py:hll_registers group_cols)",
)
def agg_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = sketch.hll_registers(ev, "user_id", group_cols=("event_type",))
    est = sketch.hll_estimate(regs, group_cols=("event_type",))
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    return est.join(exact, "event_type")


@register(
    "agg_hll_overlap_matrix",
    oracle=f"""
        WITH regs AS ({_HLL_GROUPED_REGS_SQL}),
        a AS (SELECT event_type, {_HLL_SUM_SQL} FROM regs GROUP BY 1),
        e AS (SELECT event_type, {_hll_est_sql('')} AS est FROM a),
        p AS (
            SELECT x.event_type AS type_a, x.est AS est_a,
                   y.event_type AS type_b, y.est AS est_b
            FROM e x JOIN e y ON x.event_type < y.event_type
        ),
        u AS (
            SELECT p.type_a, p.type_b, r.register,
                   MAX(r.max_rho) AS max_rho
            FROM regs r JOIN p
              ON r.event_type = p.type_a OR r.event_type = p.type_b
            GROUP BY 1, 2, 3
        ),
        ua AS (SELECT type_a, type_b, {_HLL_SUM_SQL}
               FROM u GROUP BY 1, 2),
        ue AS (SELECT type_a, type_b, {_hll_est_sql('')} AS est_union
               FROM ua)
        SELECT p.type_a, p.type_b, ue.est_union,
               round(greatest(0.0, p.est_a + p.est_b - ue.est_union), 4)
                   AS est_intersection,
               round(greatest(0.0, p.est_a + p.est_b - ue.est_union)
                     / ue.est_union, 4) AS est_jaccard
        FROM ue
        JOIN p ON p.type_a = ue.type_a AND p.type_b = ue.type_b
    """,
    doc="HLL set algebra: estimated distinct-user UNION, INTERSECTION "
    "(inclusion-exclusion) and Jaccard for EVERY pair of event types, "
    "computed entirely from the per-group register tables — union "
    "registers are the pairwise MAX-merge, so N groups' audience "
    "overlap matrix costs N constant-size sketches + an O(pairs x 2^p) "
    "merge, never a per-pair distinct-count job over the key space "
    "(the cardinality-level sibling of pipeline_contamination_matrix: "
    "at 100 TB you answer 'how much do these sources' user bases "
    "overlap' without rescanning either). Quadratic in the GROUP "
    "count by construction, so fenced at OVERLAP_MAX_GROUPS with the "
    "per-group sketch named as the fallback. Exactly two scans, plan-"
    "gated: the register build plus a column-pruned distinct-type "
    "scan for the pair frame; per-side AND union sums are conditional "
    "aggregates over the one pair-replicated register branch (a "
    "per-type estimate branch would let Catalyst fuse onto a coarser "
    "exchange and re-scan — the broadcast-recompute trap), and every "
    "estimate is the same cross-engine-exact register math as "
    "agg_hll_cardinality. "
    "(operators/sketch.py:hll_registers/hll_estimate_expr)",
)
def agg_hll_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plan shape (gated in tests/test_plans.py): exactly TWO scans —
    # the register build and a column-pruned distinct-type scan for
    # the pair frame. A per-type estimate branch over `regs` would NOT
    # reuse the register exchange: Catalyst fuses aggregate-over-
    # aggregate onto one coarser event_type exchange (a better plan
    # standalone, a canonically different subtree when shared), so the
    # per-SIDE sums are conditional aggregates over the pair-replicated
    # register rows instead — every sketch number flows from the one
    # register branch. A type whose users are ALL NULL has no
    # registers; the pair frame filters to non-NULL-user rows so such
    # a type drops out on BOTH engines (the oracle's pair frame is
    # registers-derived — without this filter the Spark side would
    # emit an extra all-zero pair row the oracle omits).
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = sketch.hll_registers(ev, "user_id", group_cols=("event_type",))
    types = (
        ev.where(F.col("user_id").isNotNull())
        .select("event_type")
        .distinct()
    )
    # Quadratic-in-groups fence (VERDICT r9 task 4): the pair frame is
    # O(T^2). The types frame is persisted and the guard counts the
    # CACHE, so fence + pair frame share ONE column-pruned source pass
    # (review r10: a limit-above-distinct probe cannot early-stop its
    # map stage — the old probe paid a full extra scan per call).
    types = persist_plan("aggregates.hll_types", types)
    sketch.overlap_pair_guard(types.count(), "agg_hll_overlap_matrix")
    ta = types.select(F.col("event_type").alias("type_a"))
    tb = types.select(F.col("event_type").alias("type_b"))
    pairs = F.broadcast(ta).join(
        F.broadcast(tb), F.col("type_a") < F.col("type_b")
    )
    u = regs.join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("type_a"))
        | (F.col("event_type") == F.col("type_b")),
    )
    inv = sketch.rho_weight_scaled("max_rho")
    is_a = F.col("event_type") == F.col("type_a")
    sides = u.groupBy("type_a", "type_b").agg(
        F.count(F.when(is_a, 1)).alias("touched_a"),
        F.sum(F.when(is_a, inv)).alias("s_a"),
        F.count(F.when(~is_a, 1)).alias("touched_b"),
        F.sum(F.when(~is_a, inv)).alias("s_b"),
    )
    union_sums = (
        u.groupBy("type_a", "type_b", "register")
        .agg(F.max("max_rho").alias("max_rho"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("touched_u"),
            F.sum(inv).alias("s_u"),
        )
    )
    est_a = sketch.hll_estimate_expr(F.col("touched_a"), F.col("s_a"))
    est_b = sketch.hll_estimate_expr(F.col("touched_b"), F.col("s_b"))
    est_u = sketch.hll_estimate_expr(F.col("touched_u"), F.col("s_u"))
    g = F.greatest(F.lit(0.0), est_a + est_b - est_u)
    return sides.join(union_sums, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        est_u.alias("est_union"),
        F.round(g, 4).alias("est_intersection"),
        F.round(g / est_u, 4).alias("est_jaccard"),
    )


_KMV_SK_SQL = sketch.kmv_sketch_oracle("user_id", "events", "event_type")
_KMV_K = sketch.KMV_K
_KMV_HS = sketch.KMV_HASH_SPACE
_KMV_HS_F = repr(float(sketch.KMV_HASH_SPACE))


@register(
    "agg_theta_intersection_matrix",
    oracle=f"""
        WITH sk AS ({_KMV_SK_SQL}),
        st AS (
            SELECT event_type,
                   MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS kth,
                   count(*) AS n_sk
            FROM sk GROUP BY 1
        ),
        p AS (
            SELECT x.event_type AS type_a, y.event_type AS type_b,
                   least(
                     CASE WHEN x.n_sk = {_KMV_K} THEN x.kth
                          ELSE {_KMV_HS} END,
                     CASE WHEN y.n_sk = {_KMV_K} THEN y.kth
                          ELSE {_KMV_HS} END) AS theta_cut
            FROM st x JOIN st y ON x.event_type < y.event_type
        ),
        r AS (
            SELECT p.type_a, p.type_b, p.theta_cut, sk.h,
                   count(*) AS n_sides
            FROM sk JOIN p
              ON (sk.event_type = p.type_a OR sk.event_type = p.type_b)
             AND sk.h < p.theta_cut
            GROUP BY 1, 2, 3, 4
        ),
        agg AS (
            SELECT type_a, type_b, theta_cut,
                   count(*) AS n_union_ret,
                   count(CASE WHEN n_sides = 2 THEN 1 END) AS n_common
            FROM r GROUP BY 1, 2, 3
        )
        SELECT type_a, type_b, CAST(n_common AS BIGINT) AS n_common,
               round(CAST(n_common AS DOUBLE) * {_KMV_HS_F}
                     / CAST(theta_cut AS DOUBLE), 4) AS est_intersection,
               round(CAST(n_union_ret AS DOUBLE) * {_KMV_HS_F}
                     / CAST(theta_cut AS DOUBLE), 4) AS est_union,
               round(CASE WHEN n_union_ret = 0 THEN 0.0
                          ELSE CAST(n_common AS DOUBLE)
                               / CAST(n_union_ret AS DOUBLE) END, 4)
                   AS est_jaccard,
               CASE WHEN theta_cut = {_KMV_HS} THEN 0.0
                    WHEN n_common = 0 THEN NULL
                    ELSE round(1.0 / sqrt(CAST(n_common AS DOUBLE)), 4)
               END AS est_rse
        FROM agg
    """,
    doc="Theta/KMV distinct-intersection matrix: per event-type pair, "
    "the estimated distinct-user INTERSECTION, UNION and Jaccard from "
    f"k={_KMV_K}-minimum-value sketches — the direct-sampling "
    "complement to agg_hll_overlap_matrix, whose inclusion-exclusion "
    "variance is worst exactly where intersections are small (VERDICT "
    "r9 task 7); here small intersections are counted from ACTUAL "
    "matching hash samples below the pair's theta threshold, with "
    "n_common exposed so the evidence count is visible beside each "
    "estimate and est_rse (the 1/sqrt(n_common) Bernoulli-witness "
    "bound; 0.0 for exact pairs, NULL when zero common hashes were "
    "retained — an estimate resting on no evidence is flagged, not "
    "dressed as precise). Build = one distinct-key exchange (what an exact "
    "count-distinct pays) + bounded per-group selection; the matrix "
    "itself is k-row broadcast algebra that never re-touches the base "
    "table (one scan, plan-gated), quadratic in the GROUP count and "
    "fenced at OVERLAP_MAX_GROUPS like its HLL sibling. Groups under "
    "k distinct keys are EXACT (theta=1); estimates are "
    "multiply-then-divide in one shared op order, so DuckDB "
    "reproduces them bit-for-bit. "
    "(operators/sketch.py:kmv_sketch/kmv_intersection_matrix)",
)
def agg_theta_intersection_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # The quadratic-in-groups fence runs INSIDE the matrix, against
    # the persisted sketch — no extra pass over events (review r10:
    # a limit-above-distinct probe cannot early-stop its map stage,
    # so the old entry-level probe paid a full source scan per call).
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = sketch.kmv_sketch(ev, "user_id", "event_type")
    return sketch.kmv_intersection_matrix(sk, "event_type")


_KMVQ_ID_SQL = (
    "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)"
)
_KMVQ_SK_SQL = sketch.kmv_quantile_sketch_oracle(
    _KMVQ_ID_SQL,
    "CAST(ROUND(l_extendedprice*100) AS BIGINT)",
    "lineitem",
    "l_returnflag",
)
_KMVQ_PRICES = ", ".join(
    f"CAST({name} AS DOUBLE)/100.0 AS {name}_price"
    for _, _, name in sketch.KMV_QUANTS
)


@register(
    "agg_kmv_quantiles",
    oracle=f"""
        SELECT l_returnflag, n_sample, exact, {_KMVQ_PRICES}, est_eps
        FROM ({sketch.kmv_quantiles_oracle(_KMVQ_SK_SQL, "l_returnflag")})
    """,
    doc="Per-group price quantiles (p25/p50/p75/p90/p99) from a "
    f"k={sketch.KMV_K} bottom-hash uniform ROW sample — the sketch "
    "family's fourth axis (CMS: frequency, HLL: cardinality, "
    "KMV/theta: set algebra, this: DISTRIBUTION). The sample is the "
    "k rows with the smallest 60-bit hashes of the row key "
    "(l_orderkey|l_linenumber), so at 100 TB the build pays one "
    "group exchange with map-side WindowGroupLimit pre-pruning "
    "(<= k rows per group per task reach the shuffle), holds "
    "groups*k state, is mergeable across shards/batches bit-for-bit "
    "(property-tested), and answers every later quantile question "
    "from <= k retained rows per group. est_eps is the 95% DKW band "
    "sqrt(ln(40)/(2n)) — the true rank of each reported quantile "
    "lies within q +/- est_eps with 95% probability; groups smaller "
    "than k are exact (exact=true, est_eps=0). Quantile indexes are "
    "pure BIGINT nearest-rank math and money stays integer cents "
    "until one final cast, so DuckDB reproduces every value "
    "bit-for-bit. (operators/sketch.py:kmv_quantile_sketch)",
)
def agg_kmv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    rid = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    sk = sketch.kmv_quantile_sketch(
        li, rid, cents("l_extendedprice"), "l_returnflag"
    )
    q = sketch.kmv_quantiles(sk, "l_returnflag")
    return q.select(
        "l_returnflag",
        "n_sample",
        "exact",
        *[
            (F.col(name).cast("double") / 100.0).alias(f"{name}_price")
            for _, _, name in sketch.KMV_QUANTS
        ],
        "est_eps",
    )
