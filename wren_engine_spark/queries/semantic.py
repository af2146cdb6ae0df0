"""Semantic-layer corpus: queries answered THROUGH the SemanticEngine.

These exercise the reference's core capability (SURVEY.md §2.A): model
expansion with expression columns, to-one calculated fields across
relationship chains (incl. two-hop), to-many aggregated calculated
fields, views over models, and RLS filters — each deployed from an MDL
manifest onto temp views and queried with plain SQL. The oracle is the
hand-expanded SQL the reference itself would generate (left joins +
pre-aggregation; cardinality invariant per model.slt:37-44).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wren_engine_spark.engine import SemanticEngine
from wren_engine_spark.mdl.manifest import Manifest
from wren_engine_spark.queries.registry import register
from wren_engine_spark.sources.registry import SourceRegistry

# exact decimal sum (see queries/registry.py determinism note)
_TOTAL_SPENT = 'CAST(SUM(CAST("orders"."totalprice" AS DECIMAL(38,6))) AS DOUBLE)'

MANIFEST: dict = {
    "catalog": "wren",
    "schema": "public",
    "models": [
        {
            "name": "region_m",
            "tableReference": "region",
            "primaryKey": "regionkey",
            "columns": [
                {"name": "regionkey", "type": "integer", "expression": "r_regionkey"},
                {"name": "name", "type": "varchar", "expression": "r_name"},
            ],
        },
        {
            "name": "nation_m",
            "tableReference": "nation",
            "primaryKey": "nationkey",
            "columns": [
                {"name": "nationkey", "type": "integer", "expression": "n_nationkey"},
                {"name": "name", "type": "varchar", "expression": "n_name"},
                {"name": "regionkey", "type": "integer", "expression": "n_regionkey"},
                {"name": "region", "relationship": "NationRegion"},
            ],
        },
        {
            "name": "customer_m",
            "tableReference": "customer",
            "primaryKey": "custkey",
            "columns": [
                {"name": "custkey", "type": "bigint", "expression": "c_custkey"},
                {"name": "name", "type": "varchar", "expression": "c_name"},
                {"name": "nation_key", "type": "integer", "expression": "c_nationkey"},
                {"name": "acctbal", "type": "double", "expression": "c_acctbal"},
                {"name": "mktsegment", "type": "varchar", "expression": "c_mktsegment"},
                {"name": "nation", "relationship": "CustomerNation"},
                {"name": "orders", "relationship": "CustomerOrders"},
                {
                    "name": "nation_name",
                    "type": "varchar",
                    "isCalculated": True,
                    "expression": '"nation"."name"',
                },
                {
                    "name": "region_name",
                    "type": "varchar",
                    "isCalculated": True,
                    "expression": '"nation"."region"."name"',
                },
                {
                    "name": "total_spent",
                    "type": "double",
                    "isCalculated": True,
                    "expression": _TOTAL_SPENT,
                },
                {
                    "name": "order_count",
                    "type": "bigint",
                    "isCalculated": True,
                    "expression": 'COUNT("orders"."orderkey")',
                },
            ],
        },
        {
            "name": "orders_m",
            "tableReference": "orders",
            "primaryKey": "orderkey",
            "columns": [
                {"name": "orderkey", "type": "bigint", "expression": "o_orderkey"},
                {"name": "custkey", "type": "bigint", "expression": "o_custkey"},
                {"name": "status", "type": "varchar", "expression": "o_orderstatus"},
                {"name": "totalprice", "type": "double", "expression": "o_totalprice"},
                {"name": "orderdate", "type": "timestamp", "expression": "o_orderdate"},
                {"name": "priority", "type": "varchar", "expression": "o_orderpriority"},
                {"name": "customer", "relationship": "CustomerOrders"},
                {
                    "name": "customer_name",
                    "type": "varchar",
                    "isCalculated": True,
                    "expression": '"customer"."name"',
                },
                {
                    "name": "customer_segment",
                    "type": "varchar",
                    "isCalculated": True,
                    "expression": '"customer"."mktsegment"',
                },
            ],
        },
    ],
    "relationships": [
        {
            "name": "NationRegion",
            "models": ["nation_m", "region_m"],
            "joinType": "MANY_TO_ONE",
            "condition": '"nation_m"."regionkey" = "region_m"."regionkey"',
        },
        {
            "name": "CustomerNation",
            "models": ["customer_m", "nation_m"],
            "joinType": "MANY_TO_ONE",
            "condition": '"customer_m"."nation_key" = "nation_m"."nationkey"',
        },
        {
            "name": "CustomerOrders",
            "models": ["customer_m", "orders_m"],
            "joinType": "ONE_TO_MANY",
            "condition": '"customer_m"."custkey" = "orders_m"."custkey"',
        },
    ],
    "views": [
        {
            "name": "segment_value",
            "statement": (
                'SELECT "mktsegment", COUNT(*) AS n_customers, '
                'CAST(SUM(CAST("acctbal" AS DECIMAL(38,6))) AS DOUBLE) AS total_balance '
                'FROM "customer_m" GROUP BY "mktsegment"'
            ),
        }
    ],
}


_DEPLOY_MEMO: dict[tuple, SemanticEngine] = {}


def deploy(spark: SparkSession, sf: str, manifest: dict | None = None,
           properties: dict | None = None) -> SemanticEngine:
    # the default-manifest/no-properties deployment is reused across the
    # query corpus (a deploy re-plans every model and re-registers its
    # views); custom manifests/properties always deploy fresh. A reused
    # engine needs no re-registration: its queries read only its own
    # source views, never the same-named model views another deploy
    # may have replaced
    memo_key = (id(spark), sf) if manifest is None and not properties else None
    if memo_key and memo_key in _DEPLOY_MEMO:
        return _DEPLOY_MEMO[memo_key]
    sources = SourceRegistry(spark).add_directory(sf)
    eng = SemanticEngine(spark, Manifest.from_dict(manifest or MANIFEST), sources)
    eng.deploy(properties or {})
    if memo_key:
        _DEPLOY_MEMO[memo_key] = eng
    return eng


@register(
    "sem1_model_projection",
    """
    SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal
    FROM customer WHERE c_acctbal > 5000
    """,
)
def sem1(spark: SparkSession, sf: str) -> DataFrame:
    eng = deploy(spark, sf)
    return eng.sql("SELECT custkey, name, acctbal FROM customer_m WHERE acctbal > 5000")


@register(
    "sem2_calc_to_one",
    """
    SELECT o_orderkey AS orderkey, c_name AS customer_name, c_mktsegment AS customer_segment
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey <= 500
    """,
)
def sem2(spark: SparkSession, sf: str) -> DataFrame:
    eng = deploy(spark, sf)
    return eng.sql(
        "SELECT orderkey, customer_name, customer_segment FROM orders_m WHERE orderkey <= 500"
    )


@register(
    "sem3_calc_to_many",
    """
    SELECT c.c_custkey AS custkey, agg.total_spent, agg.order_count
    FROM customer c LEFT JOIN (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_spent,
             COUNT(o_orderkey) AS order_count
      FROM orders GROUP BY o_custkey
    ) agg ON c.c_custkey = agg.o_custkey
    """,
)
def sem3(spark: SparkSession, sf: str) -> DataFrame:
    """To-many calculated fields must not change base cardinality
    (model.slt:37-44): one row per customer, NULL where no orders."""
    eng = deploy(spark, sf)
    return eng.sql("SELECT custkey, total_spent, order_count FROM customer_m")


@register(
    "sem4_two_hop_calc",
    """
    SELECT c.c_custkey AS custkey, n.n_name AS nation_name, r.r_name AS region_name
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def sem4(spark: SparkSession, sf: str) -> DataFrame:
    eng = deploy(spark, sf)
    return eng.sql("SELECT custkey, nation_name, region_name FROM customer_m")


@register(
    "sem5_view_over_models",
    """
    SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_balance
    FROM customer GROUP BY c_mktsegment
    """,
)
def sem5(spark: SparkSession, sf: str) -> DataFrame:
    eng = deploy(spark, sf)
    return eng.sql("SELECT mktsegment, n_customers, total_balance FROM segment_value")


@register(
    "sem6_rls_filter",
    """
    SELECT o_orderstatus AS status, COUNT(*) AS n_orders
    FROM orders WHERE o_totalprice > 400000
    GROUP BY o_orderstatus
    """,
)
def sem6(spark: SparkSession, sf: str) -> DataFrame:
    """RLS: @min_total session variable substituted into the model filter
    (access_control.rs:121-205 semantics)."""
    manifest = {
        "catalog": "wren",
        "schema": "public",
        "models": [
            {
                "name": "orders_rls",
                "tableReference": "orders",
                "primaryKey": "orderkey",
                "columns": [
                    {"name": "orderkey", "type": "bigint", "expression": "o_orderkey"},
                    {"name": "status", "type": "varchar", "expression": "o_orderstatus"},
                    {"name": "totalprice", "type": "double", "expression": "o_totalprice"},
                ],
                "rowLevelAccessControls": [
                    {
                        "name": "min_total_rule",
                        "requiredProperties": [{"name": "min_total", "required": True}],
                        "condition": '"totalprice" > @min_total',
                    }
                ],
            }
        ],
    }
    eng = deploy(spark, sf, manifest, properties={"min_total": "400000"})
    return eng.sql("SELECT status, COUNT(*) AS n_orders FROM orders_rls GROUP BY status")


@register(
    "sem7_semantic_join_query",
    """
    SELECT n.n_name AS nation_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def sem7(spark: SparkSession, sf: str) -> DataFrame:
    """Ad-hoc SQL joining deployed models — the everyday usage pattern of
    the semantic layer."""
    eng = deploy(spark, sf)
    return eng.sql(
        """
        SELECT n.name AS nation_name,
               CAST(SUM(CAST(o.totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM orders_m o
        JOIN customer_m c ON o.custkey = c.custkey
        JOIN nation_m n ON c.nation_key = n.nationkey
        GROUP BY n.name
        """
    )


_CUBE_MANIFEST: dict = {
    **MANIFEST,
    "cubes": [
        {
            "name": "orders_cube",
            "baseObject": "orders_m",
            "cached": True,
            "dimensions": [
                {"name": "status", "expression": "status", "type": "varchar"},
                {"name": "priority", "expression": "priority", "type": "varchar"},
            ],
            "measures": [
                {"name": "n_orders", "expression": "count(*)", "type": "bigint"},
                # DECIMAL sum, not double: stays EXACT when the drill
                # re-aggregates pre-agg rows (order-independent)
                {
                    "name": "revenue_dec",
                    "expression": "SUM(CAST(totalprice AS DECIMAL(38,6)))",
                    "type": "decimal",
                },
                # non-distributive AVG: the cube materializes hidden
                # exact (sum, count) components so drills can derive it
                {
                    "name": "avg_price",
                    "expression": "AVG(CAST(totalprice AS DECIMAL(38,6)))",
                    "type": "double",
                },
            ],
            "hierarchies": {"order": ["status", "priority"]},
        }
    ],
}


@register(
    "sem8_cube_drill",
    """
    SELECT o_orderstatus AS status,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def sem8(spark: SparkSession, sf: str) -> DataFrame:
    """A STATUS-grain query answered THROUGH the MDL cube object
    (engine.cube_drill): the (status, priority) pre-agg is computed and
    cached at deploy, and the drill's SQL text rolls the 'order'
    hierarchy up to its 'status' level by re-aggregating cube rows —
    COUNT as a sum, revenue as an exact DECIMAL sum — without touching
    the base orders scan (tests/test_plans.py asserts the
    InMemoryTableScan). The
    oracle computes the same answer from the raw table, so the driver
    hash-checks that pre-agg routing is lossless. Reference cube
    hierarchies: manifest-macro/src/lib.rs:352-385."""
    eng = deploy(spark, sf, _CUBE_MANIFEST)
    out = eng.cube_drill("orders_cube", hierarchy="order", level="status")
    return out.select(
        "status",
        F.col("revenue_dec").cast("double").alias("revenue"),
        F.col("n_orders"),
    )


@register(
    "sem9_cube_avg_drill",
    """
    SELECT o_orderstatus AS status,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(COUNT(o_totalprice) AS DOUBLE) AS avg_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def sem9(spark: SparkSession, sf: str) -> DataFrame:
    """An AVG measure drilled to a coarser grain THROUGH the cube —
    the non-distributive case (round-5 verdict item 8): AVG of the
    (status, priority) pre-agg rows would be wrong (unweighted), so
    the cube's private body (planned by ``CteRewriter``) carries hidden
    exact (sum, count) components and ``cube_drill`` derives
    status-grain avg_price as sum-of-sums / sum-of-counts with one
    final double division. The
    oracle recomputes the same from the raw orders table, so the
    driver hash-checks that the derived-measure path is exact, not
    approximately-averaged. Reference cube hierarchies:
    manifest-macro/src/lib.rs:352-385."""
    eng = deploy(spark, sf, _CUBE_MANIFEST)
    out = eng.cube_drill("orders_cube", hierarchy="order", level="status")
    return out.select("status", "avg_price")
