-- scalar_funcs
WITH "customer_m" AS (
  SELECT __base."custkey", __base."name", __base."nation_key", __base."acctbal", __base."mktsegment"
  FROM (SELECT c_custkey AS "custkey", c_name AS "name", c_nationkey AS "nation_key", c_acctbal AS "acctbal", c_mktsegment AS "mktsegment" FROM "<SF>/customer.parquet" AS __source) AS __base
)
SELECT custkey, charindex('a', name) AS pos, nvl(acctbal, 0) AS bal FROM customer_m WHERE mktsegment = 'BUILDING' ORDER BY custkey LIMIT 10

-- semantic_join
WITH "nation_m" AS (
  SELECT __base."nationkey", __base."name", __base."regionkey"
  FROM (SELECT n_nationkey AS "nationkey", n_name AS "name", n_regionkey AS "regionkey" FROM "<SF>/nation.parquet" AS __source) AS __base
),
"customer_m" AS (
  SELECT __base."custkey", __base."name", __base."nation_key", __base."acctbal", __base."mktsegment"
  FROM (SELECT c_custkey AS "custkey", c_name AS "name", c_nationkey AS "nation_key", c_acctbal AS "acctbal", c_mktsegment AS "mktsegment" FROM "<SF>/customer.parquet" AS __source) AS __base
)
SELECT n.name AS nation, COUNT(*) AS n_cust FROM customer_m c JOIN nation_m n ON c.nationkey = n.nationkey GROUP BY n.name

-- cte
WITH "customer_m" AS (
  SELECT __base."custkey", __base."name", __base."nation_key", __base."acctbal", __base."mktsegment"
  FROM (SELECT c_custkey AS "custkey", c_name AS "name", c_nationkey AS "nation_key", c_acctbal AS "acctbal", c_mktsegment AS "mktsegment" FROM "<SF>/customer.parquet" AS __source) AS __base
),
big AS (SELECT custkey, acctbal FROM customer_m WHERE acctbal > 1000) SELECT COUNT(*) AS n FROM big
