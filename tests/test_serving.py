"""Serving-layer tests: query envelope, served limit, validate,
metadata, model substitution, dry-plan twin, function catalog."""

import datetime
import json
import os
import sys
import threading
from decimal import Decimal

import pytest

from tests.conftest import SF_DIR, spark_jobs
from wren_engine_spark import serving
from wren_engine_spark.queries.semantic import MANIFEST, deploy
from wren_engine_spark.serving import QueryCache, SemanticService, to_json


@pytest.fixture(scope="module")
def service(spark):
    return SemanticService(deploy(spark, SF_DIR))


class TestQuery:
    def test_envelope(self, service):
        out = service.query("SELECT custkey, name FROM customer_m ORDER BY custkey", limit=3)
        assert out["columns"] == ["custkey", "name"]
        assert len(out["data"]) == 3
        assert out["dtypes"]["custkey"] == "bigint"

    def test_timestamp_format(self, service):
        out = service.query("SELECT orderdate FROM orders_m ORDER BY orderkey LIMIT 1")
        # util.py:284-305: '%Y-%m-%d %H:%M:%S.%f'
        assert len(out["data"][0][0]) == 26

    @pytest.mark.parametrize(
        "sql, limit, rows",
        [
            ("SELECT custkey FROM customer_m LIMIT 5", 10, 5),
            ("SELECT custkey FROM customer_m LIMIT 50", 10, 10),
            ("SELECT custkey FROM customer_m -- note", 3, 3),
            ("SELECT custkey FROM customer_m\n-- note\nLIMIT 50", 10, 10),
            ("SELECT '--x' AS v FROM customer_m", 2, 2),
        ],
        ids=["sql_limit_smaller", "request_smaller", "trailing_comment",
             "limit_after_comment_line", "dashes_in_literal"],
    )
    def test_limit_is_min_of_sql_and_request(self, service, sql, limit, rows):
        # wren-core-py/src/context.rs:271 semantics: min(existing,
        # requested); a trailing comment cannot swallow the limit
        assert len(service.query(sql, limit=limit)["data"]) == rows

    def test_dry_run_returns_none(self, service):
        assert service.query("SELECT custkey FROM customer_m", dry_run=True) is None

    def test_dry_run_invalid_raises(self, service):
        with pytest.raises(Exception):
            service.query("SELECT missing_col FROM customer_m", dry_run=True)


class TestValidate:
    def test_valid_column(self, service):
        assert service.validate_column_is_valid("customer_m", "custkey")

    def test_invalid_column(self, service):
        assert not service.validate_column_is_valid("customer_m", "nope")


class TestMetadata:
    def test_tables(self, service):
        t = {x["name"]: x for x in service.tables()}
        assert "customer_m" in t
        names = [c["name"] for c in t["customer_m"]["columns"]]
        assert "total_spent" in names and "nation" not in names

    def test_relationships(self, service):
        assert {r["name"] for r in service.relationships()} == {
            "NationRegion", "CustomerNation", "CustomerOrders"}


class TestFunctions:
    def test_list_contains_builtins(self, service):
        names = {f["name"] for f in service.functions()}
        assert {"sum", "date_trunc", "row_number"} <= names

    def test_types_tagged(self, service):
        by_name = {f["name"]: f["function_type"] for f in service.functions()}
        assert by_name["sum"] == "aggregate"
        assert by_name["row_number"] == "window"

    def test_describe(self, service):
        spec = service.function("date_trunc")
        assert spec and spec["description"]

    def test_declare_and_call(self, service, spark):
        from wren_engine_spark.functions.catalog import FunctionSpec

        service.catalog.declare(
            FunctionSpec("scalar", "wren_double_it", "bigint", ["x"], ["bigint"]),
            impl=lambda x: None if x is None else 2 * x,
        )
        assert spark.sql("SELECT wren_double_it(21) AS v").collect()[0].v == 42
        assert service.function("wren_double_it")["return_type"] == "bigint"

    def test_load_csv(self, service):
        n = service.catalog.load_csv(
            "function_type,name,return_type,param_names,param_types,description\n"
            "scalar,my_remote_fn,double,x,double,remote thing\n"
        )
        assert n == 1
        assert service.function("my_remote_fn")["description"] == "remote thing"


class TestModelSubstitute:
    # ibis-server/app/mdl/substitute.py parity
    def test_substitute(self, service):
        out = service.model_substitute("SELECT * FROM customer JOIN orders ON 1=1")
        assert "`customer_m`" in out and "`orders_m`" in out

    def test_no_partial_match(self, service):
        out = service.model_substitute("SELECT customer_id FROM customer_tbl")
        assert "`customer_m`" not in out


def _agent_queries() -> dict[str, str]:
    """The agent benchmark's query shapes (perfbench.gen), every
    calculated-field variant of each template, at sf0.001."""
    import numpy as np

    from perfbench import gen

    n_orders = gen.table_sizes(0.001)["orders"]
    out = {"customer_calcs": "SELECT custkey, total_spent, nation_name FROM customer_m"}
    for template in (*gen.AGENT_QUERY_TEMPLATES, "preview"):
        for variant in range(4 if template != "preview" else 1):
            rng = np.random.default_rng([7, variant])
            out[f"{template}-{variant}"] = gen._agent_query(rng, template, n_orders, variant)
    return out


_AGENT_QUERIES = _agent_queries()


def _rounded(row: tuple) -> tuple:
    """A result row with decimals and doubles rounded to 6 places: Spark
    and DuckDB type an AVG or a SUM differently."""
    return tuple(round(float(v), 6) if isinstance(v, (Decimal, float)) else v for v in row)


# a cube over a parquet-backed model: an AVG measure (hidden sum and
# count components) next to distributive ones
_SEG_CUBE = {
    "name": "seg_cube",
    "baseObject": "customer_m",
    "cached": True,
    "dimensions": [{"name": "segment", "expression": '"mktsegment"', "type": "varchar"}],
    "measures": [
        {"name": "n", "expression": "count(*)", "type": "bigint"},
        {"name": "bal", "expression": 'SUM(CAST("acctbal" AS DECIMAL(38,6)))',
         "type": "decimal"},
        {"name": "avg_bal", "expression": "avg(CAST(acctbal AS DECIMAL(38,6)))",
         "type": "double"},
    ],
}

# the guarded models of the drift tests: a CLAC-gated column, a hidden
# calculated column, RLS on both sides of a relationship, and a to-one and
# a to-many calculated field across it. The RLS columns keep their source
# names, so a text that filtered the raw source or skipped a hop target's
# RLS would still run and answer wrong, not fail to analyze
_GUARDED = {
    "catalog": "wren",
    "schema": "public",
    "models": [
        {
            "name": "g_customer",
            "tableReference": "customer",
            "primaryKey": "custkey",
            "columns": [
                {"name": "custkey", "type": "bigint", "expression": "c_custkey"},
                {"name": "c_mktsegment", "type": "varchar"},
                {"name": "bal", "type": "double", "expression": "c_acctbal",
                 "columnLevelAccessControl": {
                     "name": "bal_gate", "operator": "GREATER_THAN",
                     "threshold": {"value": "5", "type": "NUMERIC"},
                     "requiredProperties": [{"name": "level", "required": True}]}},
                {"name": "orders", "relationship": "GCustOrders"},
                {"name": "hid", "type": "bigint", "isCalculated": True,
                 "isHidden": True, "expression": '"custkey" + 1'},
                {"name": "total", "type": "double", "isCalculated": True,
                 "expression":
                     'CAST(SUM(CAST("orders"."price" AS DECIMAL(38,6))) AS DOUBLE)'},
            ],
            "rowLevelAccessControls": [{
                "name": "segment_rule",
                "requiredProperties": [{"name": "segment", "required": True}],
                "condition": '"c_mktsegment" <> @segment'}],
        },
        {
            "name": "g_orders",
            "tableReference": "orders",
            "primaryKey": "o_orderkey",
            "columns": [
                {"name": "o_orderkey", "type": "bigint"},
                {"name": "custkey", "type": "bigint", "expression": "o_custkey"},
                {"name": "price", "type": "double", "expression": "o_totalprice"},
                {"name": "customer", "relationship": "GCustOrders"},
                {"name": "cust_segment", "type": "varchar", "isCalculated": True,
                 "expression": '"customer"."c_mktsegment"'},
            ],
            "rowLevelAccessControls": [{
                "name": "even_rule", "requiredProperties": [],
                "condition": '"o_orderkey" % 2 = 0'}],
        },
    ],
    "relationships": [{
        "name": "GCustOrders", "models": ["g_customer", "g_orders"],
        "joinType": "ONE_TO_MANY",
        "condition": '"g_customer"."custkey" = "g_orders"."custkey"'}],
}


class TestDryPlanTwin:
    """The dry-plan text is a standalone twin of what ``sql`` executes:
    run in a session with no deployed views, it answers the same."""

    @pytest.fixture(scope="class")
    def fresh(self, spark):
        return spark.newSession()

    @pytest.fixture(scope="class")
    def guarded(self, spark):
        from wren_engine_spark.engine import SemanticEngine
        from wren_engine_spark.mdl.manifest import Manifest
        from wren_engine_spark.sources.registry import SourceRegistry

        eng = SemanticEngine(
            spark, Manifest.from_dict(_GUARDED), SourceRegistry(spark).add_directory(SF_DIR)
        )
        return eng.deploy({"level": "3", "segment": "BUILDING"})

    @staticmethod
    def _twin(eng, fresh, q, duck=False):
        want = eng.sql(q)
        got = fresh.sql(eng.dry_plan(q))
        assert got.columns == want.columns
        rows = sorted(map(tuple, got.collect()), key=repr)
        assert rows == sorted(map(tuple, want.collect()), key=repr)
        if duck:
            import duckdb

            rel = duckdb.sql(eng.dry_plan(q, dialect="duckdb"))
            assert rel.columns == got.columns
            want_rows = sorted(map(_rounded, rows), key=repr)
            assert sorted(map(_rounded, rel.fetchall()), key=repr) == want_rows
        return got.columns, rows

    @pytest.mark.parametrize("name", list(_AGENT_QUERIES))
    def test_dry_plan_executes_identically(self, service, fresh, name):
        self._twin(service.engine, fresh, _AGENT_QUERIES[name])

    @pytest.mark.parametrize("sem", [f"sem{i}" for i in range(1, 10)])
    def test_sem_query_dry_plan_twin(self, spark, fresh, monkeypatch, sem):
        from wren_engine_spark.engine import SemanticEngine
        from wren_engine_spark.queries import semantic

        calls = []
        real = SemanticEngine.sql

        def spy(eng, sql, *args, **kwargs):
            calls.append((eng, sql))
            return real(eng, sql, *args, **kwargs)

        monkeypatch.setattr(SemanticEngine, "sql", spy)
        getattr(semantic, sem)(spark, SF_DIR)
        monkeypatch.undo()
        assert calls
        for eng, q in calls:
            # sem8 and sem9 send cube_drill's text
            self._twin(eng, fresh, q, duck=sem in ("sem8", "sem9"))

    def test_cube_query_dry_plan_twin(self, spark, fresh):
        eng = deploy(spark, SF_DIR, {**MANIFEST, "cubes": [_SEG_CUBE]})
        cols, rows = self._twin(eng, fresh, "SELECT * FROM seg_cube", duck=True)
        # the hidden AVG components stay hidden
        assert cols == ["segment", "n", "bal", "avg_bal"]
        assert len(rows) == 5
        q = "SELECT SUM(n) AS n, MAX(avg_bal) AS top FROM seg_cube WHERE segment <> 'BUILDING'"
        self._twin(eng, fresh, q, duck=True)

    def test_view_over_cube_dry_plan_twin(self, spark, fresh):
        manifest = {**MANIFEST, "cubes": [_SEG_CUBE], "views": [
            {"name": "big_segments",
             "statement": 'SELECT "segment", "n" FROM "seg_cube" WHERE "n" > 20'}]}
        eng = deploy(spark, SF_DIR, manifest)
        _, rows = self._twin(eng, fresh, "SELECT * FROM big_segments", duck=True)
        assert rows and all(n > 20 for _, n in rows)

    def test_cube_drill_dry_plan_twin(self, spark, fresh, monkeypatch):
        from wren_engine_spark.engine import SemanticEngine

        eng = deploy(spark, SF_DIR, {**MANIFEST, "cubes": [
            {**_SEG_CUBE, "dimensions": [
                *_SEG_CUBE["dimensions"],
                {"name": "nation", "expression": "nation_key", "type": "integer"}],
             "hierarchies": {"geo": ["segment", "nation"]}}]})
        texts = []
        real = SemanticEngine.sql

        def spy(engine, sql, *args, **kwargs):
            texts.append(sql)
            return real(engine, sql, *args, **kwargs)

        monkeypatch.setattr(SemanticEngine, "sql", spy)
        drilled = [eng.cube_drill("seg_cube"),
                   eng.cube_drill("seg_cube", hierarchy="geo", level="segment")]
        monkeypatch.undo()
        assert len(texts) == 2
        for df, q in zip(drilled, texts):
            cols, rows = self._twin(eng, fresh, q, duck=True)
            assert df.columns == cols
        assert len(rows) == 5

    def test_view_dry_plan_runs(self, service, fresh):
        q = "SELECT mktsegment, n_customers, total_balance FROM segment_value"
        _, rows = self._twin(service.engine, fresh, q)
        assert len(rows) == 5

    def test_denied_and_hidden_columns_absent(self, guarded, fresh):
        cols, _ = self._twin(guarded, fresh, "SELECT * FROM g_customer")
        assert cols == ["custkey", "c_mktsegment", "total"]

    def test_related_rls_hides_to_one_row(self, guarded, fresh):
        q = "SELECT o_orderkey, custkey, cust_segment FROM g_orders"
        _, rows = self._twin(guarded, fresh, q)
        hidden = {
            r[0] for r in fresh.sql(
                f"SELECT c_custkey FROM parquet.`{SF_DIR}/customer.parquet` "
                "WHERE c_mktsegment = 'BUILDING'").collect()
        }
        assert hidden and rows
        assert all((seg is None) == (cust in hidden) for _, cust, seg in rows)

    def test_related_rls_hides_to_many_rows(self, guarded, fresh):
        _, rows = self._twin(guarded, fresh, "SELECT custkey, total FROM g_customer")
        want = fresh.sql(
            f"SELECT c_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)"
            f" FROM parquet.`{SF_DIR}/customer.parquet`"
            f" LEFT JOIN parquet.`{SF_DIR}/orders.parquet`"
            " ON o_custkey = c_custkey AND o_orderkey % 2 = 0"
            " WHERE c_mktsegment <> 'BUILDING' GROUP BY c_custkey"
        ).collect()
        assert rows == sorted(map(tuple, want), key=repr)

    def test_with_query_runs_in_spark_and_duckdb(self, service, fresh):
        import duckdb

        q = ("WITH big AS (SELECT custkey, acctbal FROM customer_m "
             "WHERE acctbal > 1000) SELECT COUNT(*) AS n FROM big")
        _, rows = self._twin(service.engine, fresh, q)
        text = service.dry_plan(q, dialect="duckdb")
        assert duckdb.sql(text).fetchall() == rows

    def test_user_cte_shadows_model(self, service, fresh):
        import duckdb

        q = "WITH customer_m AS (SELECT 99 AS custkey) SELECT custkey FROM customer_m"
        _, rows = self._twin(service.engine, fresh, q)
        assert rows == [(99,)]
        assert duckdb.sql(service.dry_plan(q, dialect="duckdb")).fetchall() == rows
        # a shadowing CTE may read another model, which still expands
        q = ('WITH "nation_m"(k, n) AS (SELECT custkey, nation_name FROM customer_m),'
             " big AS (SELECT * FROM nation_m WHERE k < 3)"
             " SELECT k, n FROM big ORDER BY k")
        _, rows = self._twin(service.engine, fresh, q)
        assert [k for k, _ in rows] == [0, 1, 2]
        assert duckdb.sql(service.dry_plan(q, dialect="duckdb")).fetchall() == rows

    def test_user_cte_shadowing_a_model_a_view_reads_is_rejected(self, service):
        # the view's CTE would read the deployed model in Spark and fail
        # in a standalone dry plan: both paths raise the same error
        from wren_engine_spark.engine import PlanError

        q = ("WITH customer_m AS (SELECT 'X' AS mktsegment)"
             " SELECT * FROM segment_value")
        with pytest.raises(PlanError, match="customer_m") as executed:
            service.engine.sql(q)
        with pytest.raises(PlanError) as planned:
            service.dry_plan(q, dialect="duckdb")
        assert str(planned.value) == str(executed.value)

    def test_duckdb_dialect_executes_in_duckdb(self, service):
        # the duckdb-rendered dry-plan is directly runnable there
        # (reference transpile parity, rewriter.py:90-104): same rows as
        # the Spark semantic path
        import duckdb

        q = "SELECT custkey, total_spent, nation_name FROM customer_m"
        spark_rows = sorted(
            (r[0], round(r[1] or 0.0, 6), r[2])
            for r in service.engine.sql(q).collect()
        )
        text = service.dry_plan(q, dialect="duckdb")
        assert "`" not in text and "read_parquet(" in text
        duck_rows = sorted(
            (r[0], round(r[1] or 0.0, 6), r[2])
            for r in duckdb.sql(text).fetchall()
        )
        assert spark_rows == duck_rows

    def test_postgres_dialect_requotes(self, service):
        text = service.dry_plan(
            "SELECT custkey FROM customer_m WHERE name <> 'keep`tick'",
            dialect="postgres",
        )
        assert '"customer_m"' in text
        assert "parquet.`" not in text
        assert "'keep`tick'" in text  # literal untouched

    def test_unknown_dialect_rejected(self, service):
        with pytest.raises(ValueError, match="unsupported dialect"):
            service.dry_plan("SELECT 1", dialect="oracle9i")

    @pytest.mark.parametrize(
        "dialect,expect,forbid",
        [
            # trino: ANSI quotes, instr -> strpos (same arg order), nvl folds
            ("trino", ['"customer_m"', "strpos(", "coalesce("], ["`", "nvl("]),
            # snowflake: NVL/TRY_CAST are native; Snowflake has no INSTR
            # so the renderer swaps to charindex(sub, str) arg order
            ("snowflake", ['"customer_m"', "charindex('a', name)", "nvl("],
             ["`", "instr("]),
            # bigquery: backtick identifiers preserved, nvl -> ifnull,
            # try_cast -> safe_cast, instr -> strpos
            ("bigquery", ["`customer_m`", "strpos(", "ifnull("], ['"customer_m"']),
        ],
    )
    def test_extended_dialect_rendering(self, service, dialect, expect, forbid):
        """Dialect-matrix breadth (reference: rewriter.py:90-104 renders
        ~15 sqlglot dialects). The textual renderer covers the quoting +
        function-spelling deltas for trino/snowflake/bigquery; when
        sqlglot is installed it takes over with full-fidelity transpile
        (separate test below)."""
        q = ("SELECT custkey, instr(name, 'a') AS pos, nvl(name, 'x') AS nm "
             "FROM customer_m WHERE name <> 'keep`tick'")
        text = service.dry_plan(q, dialect=dialect)
        for s in expect:
            assert s in text, (dialect, s, text)
        for s in forbid:
            # literals are exempt from the quoting checks
            assert s not in text.replace("'keep`tick'", ""), (dialect, s, text)
        assert "'keep`tick'" in text  # literal content never rewritten

    def test_snowflake_instr_swap_edge_cases(self):
        from wren_engine_spark.plans.dialect import _swap_two_arg_call as sw

        # nested calls: inner swaps too, outer args preserved
        assert (
            sw("SELECT instr(instr(x, y), z)", "instr", "charindex")
            == "SELECT charindex(z, charindex(y, x))"
        )
        # commas/parens inside literals must not split arguments
        assert (
            sw("SELECT instr(name, 'a,(b)')", "instr", "charindex")
            == "SELECT charindex('a,(b)', name)"
        )
        # non-2-arity left untouched (Spark instr is 2-arg; defensive)
        assert sw("SELECT instr(a, b, c)", "instr", "charindex") == (
            "SELECT instr(a, b, c)"
        )
        # occurrences inside literals untouched
        assert sw("SELECT 'instr(a, b)'", "instr", "charindex") == (
            "SELECT 'instr(a, b)'"
        )

    def test_sqlglot_transpile_when_available(self, service):
        pytest.importorskip("sqlglot")
        for dialect in ("trino", "snowflake", "bigquery"):
            text = service.dry_plan(
                "SELECT custkey FROM customer_m", dialect=dialect
            )
            assert "customer_m" in text


# a column for each formatter branch: decimal, date, instant and local
# timestamps, struct, map with non-string keys, binary
_TYPED_SQL = (
    "SELECT custkey, CAST(acctbal AS DECIMAL(12, 2)) AS bal,"
    " date_add(DATE '2024-02-27', CAST(custkey AS INT)) AS d,"
    " TIMESTAMP '2024-03-01 23:30:00.123456'"
    " + make_interval(0, 0, 0, 0, CAST(custkey AS INT)) AS ts,"
    " TIMESTAMP_NTZ '2024-03-01 23:30:00' AS ts_ntz,"
    " named_struct('k', custkey, 'n', name) AS st,"
    " map(custkey, name, custkey + 1, NULL) AS m,"
    " CAST(name AS BINARY) AS b"
    " FROM customer_m ORDER BY custkey"
)


class TestCache:
    def test_query_cache_roundtrip(self, spark, tmp_path):
        svc = SemanticService(deploy(spark, SF_DIR), cache_dir=str(tmp_path))
        q = "SELECT custkey FROM customer_m ORDER BY custkey LIMIT 5"
        first = svc.query(q, use_cache=True)
        assert "cached" not in first
        second = svc.query(q, use_cache=True)
        assert second["cached"] is True
        assert sorted(map(tuple, second["data"])) == sorted(map(tuple, first["data"]))

    def test_key_carries_the_deploy(self, spark, tmp_path):
        # two deploys of different manifests share one cache dir: the
        # second, where name is upper(name), must answer its own rows
        import copy

        upper = copy.deepcopy(MANIFEST)
        for c in upper["models"][2]["columns"]:
            if c["name"] == "name":
                c["expression"] = "upper(c_name)"
        q = "SELECT custkey, name FROM customer_m ORDER BY custkey LIMIT 3"
        first = SemanticService(deploy(spark, SF_DIR, MANIFEST), cache_dir=str(tmp_path))
        plain = first.query(q, use_cache=True)
        svc = SemanticService(deploy(spark, SF_DIR, upper), cache_dir=str(tmp_path))
        got = svc.query(q, use_cache=True)
        assert got == svc.query(q)
        assert [r[1] for r in got["data"]] == [r[1].upper() for r in plain["data"]]
        assert svc.query(q, use_cache=True)["cached"] is True
        # a redeploy is a new data snapshot: the same text misses
        svc.engine.deploy({})
        assert "cached" not in svc.query(q, use_cache=True)

    @pytest.fixture
    def cached(self, service, tmp_path):
        return SemanticService(service.engine, cache_dir=str(tmp_path))

    @pytest.mark.parametrize("kwargs", [{}, {"timezone": "Asia/Tokyo"}, {"limit": 3}])
    def test_hit_envelope_equals_miss(self, cached, kwargs):
        first = cached.query(_TYPED_SQL, use_cache=True, **kwargs)
        assert "cached" not in first and first["data"]
        second = cached.query(_TYPED_SQL, use_cache=True, **kwargs)
        assert second.pop("cached") is True
        assert json.dumps(second) == json.dumps(first)
        assert json.dumps(cached.query(_TYPED_SQL, **kwargs)) == json.dumps(first)

    def test_miss_runs_the_query_once_and_hit_runs_none(self, spark, cached):
        q = "SELECT nation_name, COUNT(*) AS n FROM customer_m GROUP BY 1 ORDER BY 1"
        cached.query(q)  # warm: a first run can add one-off jobs
        plain, want = spark_jobs(spark, lambda: cached.query(q))
        miss, first = spark_jobs(spark, lambda: cached.query(q, use_cache=True))
        hit, second = spark_jobs(spark, lambda: cached.query(q, use_cache=True))
        assert plain > 0 and miss == plain and hit == 0
        assert first == want and second["cached"] is True

    def test_interval_result_returned_not_cached(self, cached):
        q = ("SELECT custkey, INTERVAL '1' DAY * custkey AS iv"
             " FROM customer_m ORDER BY custkey LIMIT 2")
        out = cached.query(q, use_cache=True)
        assert out["data"][1][1] == datetime.timedelta(days=out["data"][1][0])
        assert "cached" not in cached.query(q, use_cache=True)
        assert not os.listdir(cached.cache.root)

    def test_concurrent_set_get_never_sees_partial_entry(self, tmp_path):
        cache = QueryCache(str(tmp_path))
        envelopes = [
            {"columns": ["v"], "data": [[w] * 40] * 2000, "dtypes": {"v": "int"}}
            for w in range(4)
        ]
        seen, errors = [], []

        def worker(env):
            try:
                for _ in range(25):
                    cache.set(env, "k")
                    seen.append(cache.get("k"))
            except Exception as e:  # noqa: BLE001 - asserted below
                errors.append(e)

        threads = [threading.Thread(target=worker, args=(e,)) for e in envelopes]
        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert not errors
        assert len(seen) == 100 and all(e in envelopes for e in seen)
        # no temp file left behind
        assert [p.name for p in tmp_path.iterdir()] == [os.path.basename(cache._path("k"))]

    def test_lru_eviction_at_cap(self, tmp_path, monkeypatch):
        monkeypatch.setattr(serving, "_QUERY_CACHE_MAX_ENTRIES", 2)
        cache = QueryCache(str(tmp_path))
        # an entry of the old parquet layout (a dir at the bare digest) is
        # never read, counted or evicted
        old = tmp_path / os.path.basename(cache._path("a")).removesuffix(".json")
        old.mkdir()
        env = {"columns": [], "data": [], "dtypes": {}}
        cache.set(env, "a")
        cache.set(env, "b")
        assert cache.get("a") == env  # now "b" is the least recently used
        cache.set(env, "c")
        assert cache.get("b") is None
        assert cache.get("a") == env and cache.get("c") == env
        assert old.is_dir()


class TestQueryTimeout:
    def test_fast_query_unaffected(self, service):
        out = service.query("SELECT COUNT(*) AS n FROM customer_m", timeout_s=120)
        assert out["data"][0][0] > 0

    def test_jobs_keep_callers_group_and_tags(self, spark):
        from wren_engine_spark.serving import collect_with_timeout

        sc = spark.sparkContext
        df = spark.range(0, 1000, numPartitions=4).selectExpr("SUM(id) AS s")
        sc.setJobGroup("caller-group", "timed query under a caller's group")
        sc.addJobTag("caller-tag")
        try:
            rows = collect_with_timeout(df, timeout_s=120)
            tags_after = set(sc.getJobTags())
        finally:
            sc.removeJobTag("caller-tag")
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert rows[0].s == 499500
        assert tags_after == {"caller-tag"}
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup("caller-group")

    def test_slow_query_cancelled(self, spark, service):
        import time

        from wren_engine_spark.serving import QueryTimeoutError, collect_with_timeout

        # 5-way cross join (~7.6e10 rows at sf0.001): cannot finish
        # inside the timeout even on a warm 32-core JVM
        c = spark.table("customer_m").select("custkey")
        slow = (
            c.crossJoin(c.selectExpr("custkey AS k2"))
            .crossJoin(c.selectExpr("custkey AS k3"))
            .crossJoin(c.selectExpr("custkey AS k4"))
            .crossJoin(c.selectExpr("custkey AS k5"))
            .selectExpr("SUM(custkey * k2 * k3 * k4 * k5) AS s")
        )
        t0 = time.time()
        with pytest.raises(QueryTimeoutError):
            collect_with_timeout(slow, timeout_s=2)
        assert time.time() - t0 < 30, "cancellation should be prompt"

    def test_slow_zoned_query_cancelled(self, spark, service):
        import time

        from wren_engine_spark.serving import QueryTimeoutError

        # the same 5-way cross join, planned in a zone session
        sql = ("SELECT SUM(a.custkey * b.custkey * c.custkey * d.custkey * e.custkey) AS s "
               "FROM customer_m a CROSS JOIN customer_m b CROSS JOIN customer_m c "
               "CROSS JOIN customer_m d CROSS JOIN customer_m e")
        t0 = time.time()
        with pytest.raises(QueryTimeoutError):
            service.query(sql, timezone="Asia/Tokyo", timeout_s=2)
        assert time.time() - t0 < 30, "cancellation should be prompt"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


class TestCube:
    def test_cube_view_and_cached(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import MANIFEST, deploy

        manifest = {
            **MANIFEST,
            "cubes": [
                {
                    "name": "sales_cube",
                    "baseObject": "customer_m",
                    "cached": True,
                    "measures": [
                        {"name": "n_customers", "expression": "count(*)", "type": "bigint"},
                        {"name": "total_bal", "expression": "sum(acctbal)", "type": "double"},
                    ],
                    "dimensions": [
                        {"name": "segment", "expression": "mktsegment", "type": "varchar"}
                    ],
                }
            ],
        }
        deploy(spark, SF_DIR, manifest)
        rows = spark.table("sales_cube").collect()
        assert {r.segment for r in rows} == {
            "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"
        }
        direct = spark.sql(
            "SELECT mktsegment, COUNT(*) n FROM customer_m GROUP BY 1"
        ).collect()
        got = {r.segment: r.n_customers for r in rows}
        assert got == {r.mktsegment: r.n for r in direct}


class TestAnalysis:
    def test_analyze_models_and_calc_fields(self, service):
        out = service.analyze(
            "SELECT name, nation_name FROM customer_m WHERE acctbal > 0"
        )
        models = {m["model"]: m for m in out["models"]}
        assert "customer_m" in models
        cust = models["customer_m"]
        assert "acctbal" in cust["columns"]
        calc = {c["name"]: c for c in cust["calculated_fields"]}
        assert "nation_name" in calc
        # the to-one calc crosses the customer->nation relationship
        rels = calc["nation_name"]["relationships"]
        assert rels and rels[0]["hops"]

    def test_analyze_untouched_model_absent(self, service):
        out = service.analyze("SELECT 1 FROM region_m")
        names = {m["model"] for m in out["models"]}
        assert "region_m" in names and "customer_m" not in names


class TestCubeDrill:
    def _deploy(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import _CUBE_MANIFEST, deploy

        return deploy(spark, SF_DIR, _CUBE_MANIFEST)

    def test_drill_matches_base_aggregation(self, spark):
        eng = self._deploy(spark)
        got = {
            r.status: (float(r.revenue_dec), r.n_orders)
            for r in eng.cube_drill(
                "orders_cube", hierarchy="order", level="status"
            ).collect()
        }
        want = {
            r.status: (float(r.rev), r.n)
            for r in spark.sql(
                "SELECT status, SUM(CAST(totalprice AS DECIMAL(38,6))) rev,"
                " COUNT(*) n FROM orders_m GROUP BY status"
            ).collect()
        }
        assert got == want

    def test_full_hierarchy_level_keeps_all_dims(self, spark):
        eng = self._deploy(spark)
        out = eng.cube_drill("orders_cube", hierarchy="order", level="priority")
        assert set(out.columns) == {
            "status", "priority", "n_orders", "revenue_dec", "avg_price"
        }

    def test_unknown_hierarchy_and_level_raise(self, spark):
        from wren_engine_spark.engine import PlanError

        eng = self._deploy(spark)
        with pytest.raises(PlanError):
            eng.cube_drill("orders_cube", hierarchy="nope", level="status")
        with pytest.raises(PlanError):
            eng.cube_drill("orders_cube", hierarchy="order", level="nope")

    def test_unknown_cube_raises(self, spark):
        from wren_engine_spark.engine import PlanError

        eng = self._deploy(spark)
        with pytest.raises(PlanError, match="unknown cube"):
            eng.cube_drill("nope")

    def _manifest_with_measures(self, measures):
        from wren_engine_spark.queries.semantic import MANIFEST

        return {
            **MANIFEST,
            "cubes": [{
                "name": "m_cube_t",
                "baseObject": "orders_m",
                "measures": measures,
                "dimensions": [
                    {"name": "status", "expression": "status", "type": "varchar"},
                    {"name": "priority", "expression": "priority", "type": "varchar"},
                ],
                "hierarchies": {"h": ["status", "priority"]},
            }],
        }

    def test_avg_measure_drills_via_hidden_sum_count(self, spark):
        """AVG is non-distributive over the pre-agg, but the cube
        materializes hidden exact (sum, count) components at
        registration, so the drill derives the coarser average as
        sum-of-sums / sum-of-counts (round-5 verdict item 8)."""
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import deploy

        manifest = self._manifest_with_measures([
            {"name": "avg_price",
             "expression": "avg(CAST(totalprice AS DECIMAL(38,6)))",
             "type": "double"},
        ])
        eng = deploy(spark, SF_DIR, manifest)
        got = {
            r.status: r.avg_price
            for r in eng.cube_drill("m_cube_t", hierarchy="h", level="status").collect()
        }
        want = {
            r.status: float(r.a)
            for r in spark.sql(
                "SELECT status, CAST(SUM(CAST(totalprice AS DECIMAL(38,6)))"
                " AS DOUBLE) / COUNT(totalprice) AS a"
                " FROM orders_m GROUP BY status"
            ).collect()
        }
        assert got == want
        # hidden components never leak into the registered cube VIEW
        assert set(spark.table("m_cube_t").columns) == {
            "status", "priority", "avg_price"
        }

    def test_nested_and_whitespace_measures_drill(self, spark):
        """What reference MDLs actually contain: CASE WHEN inside the
        aggregate, parens in string literals, leading whitespace."""
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import deploy

        manifest = self._manifest_with_measures([
            {"name": "open_rev",
             "expression": (
                 "  SUM( CASE WHEN status IN ('O', '(x)') THEN"
                 " CAST(totalprice AS DECIMAL(38,6)) ELSE 0 END )  "
             ),
             "type": "decimal"},
        ])
        eng = deploy(spark, SF_DIR, manifest)
        got = {
            r.status: float(r.open_rev)
            for r in eng.cube_drill("m_cube_t", hierarchy="h", level="status").collect()
        }
        want = {
            r.status: float(r.v)
            for r in spark.sql(
                "SELECT status, SUM(CASE WHEN status IN ('O', '(x)') THEN"
                " CAST(totalprice AS DECIMAL(38,6)) ELSE 0 END) v"
                " FROM orders_m GROUP BY status"
            ).collect()
        }
        assert got == want

    def test_compound_measure_raises_not_silently_wrong(self, spark):
        """The round-5 advisor's case: 'SUM(a)/COUNT(*)' has text head
        SUM but re-aggregating the pre-agg ratio column as a plain sum
        answers WRONG — the guard must raise."""
        from tests.conftest import SF_DIR
        from wren_engine_spark.engine import PlanError
        from wren_engine_spark.queries.semantic import deploy

        manifest = self._manifest_with_measures([
            {"name": "ratio",
             "expression": "SUM(totalprice)/COUNT(*)", "type": "double"},
        ])
        eng = deploy(spark, SF_DIR, manifest)
        with pytest.raises(PlanError, match="single top-level aggregate"):
            eng.cube_drill("m_cube_t", hierarchy="h", level="status")

    def test_distinct_and_avg_distinct_measures_raise(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.engine import PlanError
        from wren_engine_spark.queries.semantic import deploy

        for expr in ("COUNT(DISTINCT custkey)", "avg(DISTINCT totalprice)"):
            manifest = self._manifest_with_measures([
                {"name": "m", "expression": expr, "type": "double"},
            ])
            eng = deploy(spark, SF_DIR, manifest)
            with pytest.raises(PlanError):
                eng.cube_drill("m_cube_t", hierarchy="h", level="status")


class TestMetadataExtras:
    def test_constraints_pk_and_fk(self, service):
        cons = service.constraints()
        by_type = {}
        for c in cons:
            by_type.setdefault(c["constraintType"], []).append(c)
        pk_tables = {c["constraintTable"] for c in by_type.get("PRIMARY KEY", [])}
        assert "customer_m" in pk_tables
        fks = by_type.get("FOREIGN KEY", [])
        assert any(
            c["constraintTable"] == "customer_m"
            and c["constraintColumn"] == "custkey"
            and c["constraintedTable"] == "orders_m"
            for c in fks
        )

    def test_version(self, service):
        assert service.version().startswith("spark ")

    def test_knowledge_shape(self, service):
        k = service.knowledge()
        assert any("Spark SQL" in r for r in k["rules"])
        models = {m["model"]: m for m in k["schema"]["models"]}
        assert "custkey" in models["customer_m"]["columns"]
        assert k["schema"]["relationships"]
