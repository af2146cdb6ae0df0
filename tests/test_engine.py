"""SemanticEngine behavior tests on tiny in-memory fixtures.

Mirrors the reference's test matrix (wren-core/core/src/mdl/mod.rs:648-
4205 + sqllogictest model.slt): expression columns, ref_sql, to-one /
to-many calculated fields with the cardinality invariant (model.slt:
37-44), hidden columns, RLS required/optional/default properties,
RLS sanitization, CLAC operator matrix.
"""

import pytest

from wren_engine_spark.engine import AccessControlError, SemanticEngine
from wren_engine_spark.mdl.manifest import Manifest
from wren_engine_spark.sources.registry import SourceRegistry


def _sources(spark):
    customers = spark.createDataFrame(
        [(1, "alice", "NY"), (2, "bob", "CA"), (3, "carol", "TX")],
        "id INT, name STRING, state STRING",
    )
    orders = spark.createDataFrame(
        [(10, 1, 100.0), (11, 1, 50.0), (12, 2, 70.0)],
        "oid INT, cust_id INT, price DOUBLE",
    )
    return (
        SourceRegistry(spark)
        .add_dataframe("customers", customers)
        .add_dataframe("orders", orders)
    )


BASE = {
    "catalog": "t",
    "schema": "t",
    "models": [
        {
            "name": "Customers",
            "tableReference": "customers",
            "primaryKey": "Id",
            "columns": [
                {"name": "Id", "type": "int", "expression": "id"},
                {"name": "Name", "type": "varchar", "expression": "name"},
                {"name": "State", "type": "varchar", "expression": "state"},
                {"name": "orders", "relationship": "CO"},
                {"name": "Total", "type": "double", "isCalculated": True,
                 "expression": 'sum("orders"."Price")'},
                {"name": "NOrders", "type": "bigint", "isCalculated": True,
                 "expression": 'count("orders"."Oid")'},
            ],
        },
        {
            "name": "Orders",
            "tableReference": "orders",
            "primaryKey": "Oid",
            "columns": [
                {"name": "Oid", "type": "int", "expression": "oid"},
                {"name": "CustId", "type": "int", "expression": "cust_id"},
                {"name": "Price", "type": "double", "expression": "price"},
                {"name": "customer", "relationship": "CO"},
                {"name": "CustState", "type": "varchar", "isCalculated": True,
                 "expression": '"customer"."State"'},
                {"name": "PriceTax", "type": "double", "isCalculated": True,
                 "expression": '"Price" * 1.1'},
            ],
        },
    ],
    "relationships": [
        {"name": "CO", "models": ["Customers", "Orders"], "joinType": "ONE_TO_MANY",
         "condition": '"Customers"."Id" = "Orders"."CustId"'}
    ],
    "views": [
        {"name": "StateView",
         "statement": 'SELECT "State", COUNT(*) AS n FROM "Customers" GROUP BY "State"'}
    ],
}


def _deploy(spark, manifest_dict=None, props=None):
    eng = SemanticEngine(spark, Manifest.from_dict(manifest_dict or BASE), _sources(spark))
    return eng.deploy(props or {})


class TestModelExpansion:
    def test_expression_columns(self, spark):
        eng = _deploy(spark)
        rows = eng.sql("SELECT Id, Name FROM Customers ORDER BY Id").collect()
        assert [(r.Id, r.Name) for r in rows] == [(1, "alice"), (2, "bob"), (3, "carol")]

    def test_to_one_calculated(self, spark):
        eng = _deploy(spark)
        rows = eng.sql("SELECT Oid, CustState FROM Orders ORDER BY Oid").collect()
        assert [(r.Oid, r.CustState) for r in rows] == [(10, "NY"), (11, "NY"), (12, "CA")]

    def test_to_one_preserves_cardinality(self, spark):
        # model.slt:37-44 invariant
        eng = _deploy(spark)
        assert eng.sql("SELECT * FROM Orders").count() == 3

    def test_to_many_calculated(self, spark):
        eng = _deploy(spark)
        rows = eng.sql("SELECT Id, Total, NOrders FROM Customers ORDER BY Id").collect()
        assert [(r.Id, r.Total, r.NOrders) for r in rows] == [
            (1, 150.0, 2), (2, 70.0, 1), (3, None, None)]

    def test_to_many_preserves_cardinality(self, spark):
        eng = _deploy(spark)
        assert eng.sql("SELECT * FROM Customers").count() == 3

    def test_inline_calculated(self, spark):
        eng = _deploy(spark)
        r = eng.sql("SELECT PriceTax FROM Orders WHERE Oid = 10").collect()[0]
        assert r.PriceTax == pytest.approx(110.0)

    def test_view(self, spark):
        eng = _deploy(spark)
        rows = eng.sql("SELECT * FROM StateView ORDER BY State").collect()
        assert [(r.State, r.n) for r in rows] == [("CA", 1), ("NY", 1), ("TX", 1)]

    def test_ref_sql_model(self, spark):
        man = {
            "catalog": "t", "schema": "t",
            "models": [{
                "name": "BigOrders",
                "refSql": "SELECT oid, price FROM src_orders WHERE price > 60",
                "columns": [{"name": "oid", "type": "int"},
                            {"name": "price", "type": "double"}],
            }],
        }
        # ref_sql reads an already-registered temp view
        _sources(spark).resolve("orders").createOrReplaceTempView("src_orders")
        eng = SemanticEngine(spark, Manifest.from_dict(man), _sources(spark))
        eng.deploy({})
        assert eng.sql("SELECT count(*) AS c FROM BigOrders").collect()[0].c == 2

    def test_hidden_column(self, spark):
        man = {
            "catalog": "t", "schema": "t",
            "models": [{
                "name": "M", "tableReference": "customers",
                "columns": [{"name": "id", "type": "int"},
                            {"name": "state", "type": "varchar", "isHidden": True}],
            }],
        }
        eng = _deploy(spark, man)
        assert eng.sql("SELECT * FROM M").columns == ["id"]

    def test_dry_run(self, spark):
        eng = _deploy(spark)
        eng.dry_run("SELECT Id FROM Customers")
        with pytest.raises(Exception):
            eng.dry_run("SELECT nope FROM Customers")

    def test_calc_field_pruning(self, spark):
        # semantic-layer column pruning (plan.rs:63-426 parity): a query
        # not touching join-backed calculated fields must plan no joins
        eng = _deploy(spark)
        plan = (
            eng.sql("SELECT Id, Name FROM Customers")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "Join" not in plan and "Aggregate" not in plan
        plan2 = (
            eng.sql("SELECT Id, Total FROM Customers")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert plan2.count("Aggregate") == 1

    def test_star_keeps_full_schema(self, spark):
        eng = _deploy(spark)
        cols = eng.sql("SELECT * FROM Customers").columns
        assert cols == ["Id", "Name", "State", "Total", "NOrders"]


def _rls_manifest(required=True, default=None, condition='"Price" > @lvl'):
    props = [{"name": "lvl", "required": required}]
    if default is not None:
        props[0]["defaultExpr"] = default
    return {
        "catalog": "t", "schema": "t",
        "models": [{
            "name": "Orders", "tableReference": "orders", "primaryKey": "Oid",
            "columns": [{"name": "Oid", "type": "int", "expression": "oid"},
                        {"name": "Price", "type": "double", "expression": "price"}],
            "rowLevelAccessControls": [
                {"name": "r", "requiredProperties": props, "condition": condition}],
        }],
    }


class TestRLS:
    # access_control.rs:121-288 semantics
    def test_filter_applied(self, spark):
        eng = _deploy(spark, _rls_manifest(), props={"lvl": "60"})
        assert eng.sql("SELECT count(*) AS c FROM Orders").collect()[0].c == 2

    def test_required_property_missing(self, spark):
        with pytest.raises(AccessControlError, match="lvl"):
            _deploy(spark, _rls_manifest())

    def test_default_expr_used(self, spark):
        eng = _deploy(spark, _rls_manifest(required=False, default="90"))
        assert eng.sql("SELECT count(*) AS c FROM Orders").collect()[0].c == 1

    def test_string_property_quoted(self, spark):
        man = _rls_manifest(condition='"Oid" = @lvl')
        man["models"][0]["rowLevelAccessControls"][0]["requiredProperties"][0]["name"] = "lvl"
        eng = _deploy(spark, man, props={"lvl": "10"})
        assert eng.sql("SELECT count(*) AS c FROM Orders").collect()[0].c == 1

    def test_subquery_rejected(self, spark):
        # access_control.rs:216-248: no statements inside RLS conditions
        with pytest.raises(AccessControlError, match="simple boolean"):
            _deploy(spark, _rls_manifest(condition='"Oid" IN (SELECT 1)'), props={"lvl": "1"})


def _clac_manifest(operator, threshold, ttype="NUMERIC"):
    return {
        "catalog": "t", "schema": "t",
        "models": [{
            "name": "M", "tableReference": "customers",
            "columns": [
                {"name": "id", "type": "int"},
                {"name": "state", "type": "varchar",
                 "columnLevelAccessControl": {
                     "name": "g", "operator": operator,
                     "threshold": {"value": threshold, "type": ttype},
                     "requiredProperties": [{"name": "level", "required": True}]}},
            ],
        }],
    }


class TestCLAC:
    # access_control.rs:290-399: six comparison operators
    @pytest.mark.parametrize(
        "op,thr,prop,visible",
        [
            ("EQUALS", "5", "5", True),
            ("EQUALS", "5", "4", False),
            ("NOT_EQUALS", "5", "4", True),
            ("GREATER_THAN", "5", "7", True),
            ("GREATER_THAN", "5", "5", False),
            ("LESS_THAN", "5", "3", True),
            ("GREATER_THAN_OR_EQUALS", "5", "5", True),
            ("LESS_THAN_OR_EQUALS", "5", "9", False),
        ],
    )
    def test_operator_matrix(self, spark, op, thr, prop, visible):
        eng = _deploy(spark, _clac_manifest(op, thr), props={"level": prop})
        cols = eng.sql("SELECT * FROM M").columns
        assert ("state" in cols) == visible

    def test_missing_required_property_hides(self, spark):
        eng = _deploy(spark, _clac_manifest("EQUALS", "5"))
        assert eng.sql("SELECT * FROM M").columns == ["id"]

    def test_string_threshold(self, spark):
        eng = _deploy(
            spark, _clac_manifest("EQUALS", "admin", "STRING"), props={"level": "admin"})
        assert "state" in eng.sql("SELECT * FROM M").columns


class TestCachedModel:
    def test_cached_model_materializes(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import MANIFEST, deploy

        manifest = {**MANIFEST}
        manifest["models"] = [
            {**m, "cached": True} if m["name"] == "region_m" else m
            for m in MANIFEST["models"]
        ]
        deploy(spark, SF_DIR, manifest)
        df = spark.table("region_m")
        assert df.storageLevel.useMemory
        assert df.count() == 5
        # leave the session clean for other tests
        df.unpersist()


class TestPermissionAnalyze:
    # mod.rs:543-592: clean permission error instead of UNRESOLVED_COLUMN
    def test_denied_column_raises_access_error(self, spark):
        from wren_engine_spark.engine import AccessControlError

        eng = _deploy(spark, _clac_manifest("EQUALS", "5"), props={"level": "4"})
        with pytest.raises(AccessControlError, match=r"M\.state"):
            eng.sql("SELECT state FROM M")

    def test_plain_unknown_column_not_masked(self, spark):
        from wren_engine_spark.engine import AccessControlError

        eng = _deploy(spark, _clac_manifest("EQUALS", "5"), props={"level": "5"})
        with pytest.raises(Exception) as exc:
            eng.sql("SELECT no_such FROM M")
        assert not isinstance(exc.value, AccessControlError)

    def test_allowed_column_unaffected(self, spark):
        eng = _deploy(spark, _clac_manifest("EQUALS", "5"), props={"level": "5"})
        assert eng.sql("SELECT state FROM M").columns == ["state"]

    def test_qualified_denied_column_still_reported(self, spark):
        # Spark reports multi-part names per part (`M`.`state`); the
        # qualifier must not defeat the clean AccessControlError
        from wren_engine_spark.engine import AccessControlError

        eng = _deploy(spark, _clac_manifest("EQUALS", "5"), props={"level": "4"})
        with pytest.raises(AccessControlError, match=r"M\.state"):
            eng.sql("SELECT M.state FROM M")

    def test_denied_name_in_string_literal_not_reported(self, spark):
        # ADVICE parity: a denied column name appearing ONLY inside a
        # string literal is not an identifier reference — the query must
        # succeed, not raise AccessControlError
        eng = _deploy(spark, _clac_manifest("EQUALS", "5"), props={"level": "4"})
        rows = eng.sql("SELECT id, 'state' AS lbl FROM M").collect()
        assert all(r.lbl == "state" for r in rows)

    def test_other_unresolved_column_not_misattributed(self, spark):
        # an unresolved column DIFFERENT from the denied one must surface
        # as the original analysis error, not a permission denial
        from wren_engine_spark.engine import AccessControlError

        eng = _deploy(spark, _clac_manifest("EQUALS", "5"), props={"level": "4"})
        with pytest.raises(Exception) as exc:
            eng.sql("SELECT no_such, state FROM M")
        # whichever column Spark reports first, a wrong column name must
        # never be converted into a denial of a different column
        if isinstance(exc.value, AccessControlError):
            assert "state" in str(exc.value)

    def test_syntax_error_not_masked(self, spark):
        from wren_engine_spark.engine import AccessControlError

        eng = _deploy(spark, _clac_manifest("EQUALS", "5"), props={"level": "4"})
        with pytest.raises(Exception) as exc:
            eng.sql("SELEC id FRM M")
        assert not isinstance(exc.value, AccessControlError)


class TestQuoteAwareness:
    """String-literal content must survive the identifier rewrites
    (ADVICE: the '\"...\"' -> backtick rewrite previously corrupted
    literals containing double quotes)."""

    def test_double_quotes_in_literal_survive(self, spark):
        eng = _deploy(spark)
        rows = eng.sql(
            "SELECT Name, 'he said \"hi\"' AS quote FROM Customers ORDER BY Id"
        ).collect()
        assert all(r.quote == 'he said "hi"' for r in rows)

    def test_literal_filter_value_not_rewritten(self, spark):
        eng = _deploy(spark)
        # if the literal were rewritten to backticks, this would match 0
        # rows differently / corrupt the comparison value
        n = eng.sql(
            "SELECT * FROM Customers WHERE Name <> 'x\"y'"
        ).count()
        assert n == 3

    def test_namespace_pattern_inside_literal_kept(self, spark):
        eng = _deploy(spark)
        rows = eng.sql("SELECT 't.t.keep' AS v FROM Customers LIMIT 1").collect()
        assert rows[0].v == "t.t.keep"

    def test_escaped_quote_literal(self, spark):
        eng = _deploy(spark)
        rows = eng.sql('SELECT \'don\'\'t "quote" me\' AS v FROM Customers LIMIT 1').collect()
        assert rows[0].v == 'don\'t "quote" me'


class TestPerRequestTimezone:
    """Per-request session timezone (reference x-wren-timezone header;
    wren-core/core/src/mdl/context.rs:50-75 timezone cases): tz-aware
    expressions evaluate under the requested zone for that query only,
    and the session default (UTC) is restored afterwards."""

    def test_offset_zone_shifts_interpretation(self, spark):
        eng = _deploy(spark)
        q = "SELECT unix_timestamp('2024-01-01 00:00:00') AS ts FROM Customers LIMIT 1"
        utc = eng.sql(q, timezone="UTC").collect()[0].ts
        plus8 = eng.sql(q, timezone="+08:00").collect()[0].ts
        minus5 = eng.sql(q, timezone="-05:00").collect()[0].ts
        # midnight wall clock in +08:00 is 8h EARLIER as an instant
        assert utc - plus8 == 8 * 3600
        assert minus5 - utc == 5 * 3600

    def test_iana_zone_name(self, spark):
        eng = _deploy(spark)
        row = eng.sql(
            "SELECT current_timezone() AS tz FROM Customers LIMIT 1",
            timezone="Asia/Tokyo",
        ).collect()[0]
        assert row.tz == "Asia/Tokyo"

    def test_session_default_restored(self, spark):
        eng = _deploy(spark)
        eng.sql("SELECT 1 FROM Customers LIMIT 1", timezone="+08:00").collect()
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # restored even when the query fails
        import pytest as _pytest

        with _pytest.raises(Exception):
            eng.sql("SELECT no_such FROM Customers", timezone="+08:00")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

    def test_invalid_timezone_rejected(self, spark):
        from wren_engine_spark.engine import PlanError

        eng = _deploy(spark)
        with pytest.raises(PlanError, match="invalid timezone"):
            eng.sql("SELECT 1 FROM Customers", timezone="Mars/Olympus_Mons")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

    def test_timestamp_rendering_in_zone(self, spark):
        from wren_engine_spark.serving import SemanticService

        eng = _deploy(spark)
        svc = SemanticService(eng)
        # an instant fixed in UTC, rendered in a requested zone's wall clock
        q = ("SELECT to_timestamp('2024-06-01 12:00:00') AS ts "
             "FROM Customers LIMIT 1")
        out_utc = svc.query(q, timezone="UTC")
        out_tokyo = svc.query(q, timezone="Asia/Tokyo")
        assert out_utc["data"][0][0] == "2024-06-01 12:00:00.000000"
        # the literal is interpreted as Tokyo wall clock AND rendered back
        # in Tokyo wall clock -> same display; use an explicit UTC instant
        # for the shift check
        q2 = ("SELECT from_utc_timestamp(to_utc_timestamp("
              "'2024-06-01 12:00:00', 'UTC'), 'UTC') AS ts FROM Customers LIMIT 1")
        out2 = svc.query(q2, timezone="UTC")
        assert out2["data"][0][0] == "2024-06-01 12:00:00.000000"
        assert out_tokyo["data"][0][0] == "2024-06-01 12:00:00.000000"

    def test_optimizer_substituted_fns_see_zone_through_service(self, spark):
        # the serving wrappers (zone rendering, limit) must not push the
        # optimizer pass outside the tz window
        from wren_engine_spark.serving import SemanticService

        eng = _deploy(spark)
        svc = SemanticService(eng)
        out = svc.query(
            "SELECT current_timezone() AS tz, timestamp_seconds(0) AS ts "
            "FROM Customers",
            timezone="Asia/Tokyo",
            limit=1,
        )
        assert out["data"][0][0] == "Asia/Tokyo"
        assert out["data"][0][1] == "1970-01-01 09:00:00.000000"  # UTC+9

    def test_unzoned_frame_keeps_utc_during_zoned_request(self, spark, monkeypatch):
        # a frame planned without a zone, run while a zoned request is
        # being served, must not see that request's zone
        from wren_engine_spark import serving

        eng = _deploy(spark)
        svc = serving.SemanticService(eng)
        b = eng.sql("SELECT current_timezone() AS tz FROM Customers LIMIT 1")
        seen = []
        render = serving._render_timestamps_in_zone

        def spy(df, tz):
            seen.append(b.collect()[0].tz)
            return render(df, tz)

        monkeypatch.setattr(serving, "_render_timestamps_in_zone", spy)
        out = svc.query("SELECT current_timezone() AS tz FROM Customers LIMIT 1",
                        timezone="Asia/Tokyo")
        assert out["data"][0][0] == "Asia/Tokyo"
        assert seen == ["UTC"]

    def test_concurrent_requests_see_their_own_zone(self, spark):
        import sys
        import threading

        from wren_engine_spark.serving import SemanticService

        eng = _deploy(spark)
        svc = SemanticService(eng)
        q = "SELECT current_timezone() AS tz FROM Customers LIMIT 1"
        wrong: list = []

        def worker(zone):
            try:
                for _ in range(4):
                    got = svc.query(q, timezone=zone)["data"][0][0]
                    if got != (zone or "UTC"):
                        wrong.append((zone, got))
            except Exception as e:  # noqa: BLE001
                wrong.append((zone, e))

        # two threads per zone: more workers than the usual 4 cores
        zones = (None, "Asia/Tokyo", "America/New_York", "+05:30") * 2
        threads = [threading.Thread(target=worker, args=(z,)) for z in zones]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-4)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert not wrong, wrong[:3]
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

    def test_redeploy_drops_zone_sessions(self, spark):
        eng = _deploy(spark)
        q = "SELECT Id FROM Customers ORDER BY Id"
        assert [r.Id for r in eng.sql(q, timezone="Asia/Tokyo").collect()] == [1, 2, 3]
        eng.sources.add_dataframe(
            "customers", spark.createDataFrame([(7, "gus", "WA")], "id INT, name STRING, state STRING"))
        eng.deploy({})
        assert [r.Id for r in eng.sql(q, timezone="Asia/Tokyo").collect()] == [7]

    def test_zone_sessions_bounded(self, spark, monkeypatch):
        from wren_engine_spark import engine

        monkeypatch.setattr(engine, "_ZONE_SESSIONS_MAX", 2)
        eng = _deploy(spark)
        q = "SELECT current_timezone() AS tz FROM Customers LIMIT 1"
        for zone in ("Asia/Tokyo", "America/New_York", "+05:30", "Asia/Tokyo"):
            assert eng.sql(q, timezone=zone).collect()[0].tz == zone
        assert list(eng._zone_sessions) == ["+05:30", "Asia/Tokyo"]

    def test_timestamp_shift_via_service(self, spark):
        from wren_engine_spark.serving import SemanticService

        eng = _deploy(spark)
        svc = SemanticService(eng)
        # timestamp stored as a UTC instant: cast a unix epoch (zone-free)
        q = "SELECT timestamp_seconds(1717243200) AS ts FROM Customers LIMIT 1"
        utc = svc.query(q, timezone="UTC")["data"][0][0]
        tokyo = svc.query(q, timezone="Asia/Tokyo")["data"][0][0]
        assert utc == "2024-06-01 12:00:00.000000"
        assert tokyo == "2024-06-01 21:00:00.000000"  # UTC+9 wall clock


class TestCalcPruning:
    def test_count_star_still_prunes_calc_joins(self, spark):
        # COUNT(*) reads no columns — the heavy to-many pre-aggregation
        # joins must NOT be kept for it
        eng = _deploy(spark)
        df = eng.sql("SELECT COUNT(*) AS n FROM Customers")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan
        assert df.collect()[0].n == 3

    def test_real_star_keeps_all_fields(self, spark):
        eng = _deploy(spark)
        cols = eng.sql("SELECT * FROM Customers").columns
        assert "Total" in cols and "NOrders" in cols

    def test_qualified_star_keeps_all_fields(self, spark):
        eng = _deploy(spark)
        cols = eng.sql("SELECT c.* FROM Customers c").columns
        assert "Total" in cols

    def test_multiplication_is_conservative(self, spark):
        # a '*' that is multiplication keeps fields (no parse available)
        eng = _deploy(spark)
        rows = eng.sql(
            "SELECT Id, Total * 2 AS t2 FROM Customers ORDER BY Id"
        ).collect()
        assert rows[0].t2 == 300.0

    def test_star_over_a_view_prunes_the_models_fields(self, spark):
        # the '*' reads the view's columns, not the model's
        eng = _deploy(spark)
        assert "JOIN" not in eng.dry_plan("SELECT * FROM StateView")
        assert "JOIN" in eng.dry_plan("SELECT * FROM StateView, Customers")

    def test_calc_on_calc_transitive_pruning(self, spark):
        # a query naming only TotalX2 must also attach Total (its
        # dependency); COUNT(*) pruning exposes the closure requirement
        import copy

        man = copy.deepcopy(BASE)
        man["models"][0]["columns"].append(
            {"name": "TotalX2", "type": "double", "isCalculated": True,
             "expression": '"Total" * 2'}
        )
        eng = _deploy(spark, man)
        r = eng.sql(
            "SELECT COUNT(*) AS n FROM Customers WHERE TotalX2 > 200"
        ).collect()[0]
        assert r.n == 1  # alice: Total 150 -> 300
        rows = eng.sql(
            "SELECT Id, TotalX2 FROM Customers WHERE TotalX2 IS NOT NULL ORDER BY Id"
        ).collect()
        assert [(r.Id, r.TotalX2) for r in rows] == [(1, 300.0), (2, 140.0)]


class TestSqlFrames:
    """``eng.sql`` plans every call afresh and keeps no frame it returns:
    repeated results are the query cache's job (serving.QueryCache)."""

    def test_returned_frames_are_not_retained(self, spark):
        # an engine that kept executed frames pinned their plans,
        # broadcasts and shuffle files until the driver heap ran out
        import gc
        import weakref

        eng = _deploy(spark)
        refs = []
        plan = eng.sql

        def traced(q, timezone=None):
            df = plan(q, timezone=timezone)
            refs.append(weakref.ref(df))
            return df

        eng.sql = traced  # dry_run goes through self.sql too
        eng.sql("SELECT Id, Total FROM Customers").collect()
        eng.sql("SELECT Id, Name FROM Customers", timezone="+08:00").collect()
        eng.sql("SELECT Oid, CustState FROM Orders").collect()
        eng.dry_run("SELECT Id, NOrders FROM Customers")
        gc.collect()
        assert len(refs) == 4
        assert [r() for r in refs] == [None] * 4

    def test_zoned_frames_plan_in_their_zone(self, spark):
        eng = _deploy(spark)
        q = "SELECT unix_timestamp('2024-01-01 00:00:00') AS ts FROM Customers LIMIT 1"
        a = eng.sql(q, timezone="UTC").collect()[0].ts
        b = eng.sql(q, timezone="+08:00").collect()[0].ts
        assert a - b == 8 * 3600
        q2 = ("SELECT CAST(CAST('2024-01-01 00:00:00' AS TIMESTAMP) AS BIGINT) AS ts "
              "FROM Customers LIMIT 1")
        plus8 = eng.sql(q2, timezone="+08:00").collect()[0].ts
        assert eng.sql(q2, timezone="+08:00").collect()[0].ts == plus8
        assert eng.sql(q2).collect()[0].ts - plus8 == 8 * 3600

    def test_redeploy_with_replaced_source_returns_new_rows(self, spark):
        eng = _deploy(spark)
        q = "SELECT Id FROM Customers ORDER BY Id"
        assert [r.Id for r in eng.sql(q).collect()] == [1, 2, 3]
        eng.sources.add_dataframe(
            "customers", spark.createDataFrame([(7, "gus", "WA")], "id INT, name STRING, state STRING"))
        eng.deploy({})
        assert [r.Id for r in eng.sql(q).collect()] == [7]

    def test_time_dependent_queries_evaluated_per_call(self, spark):
        # Catalyst bakes current_* and the rand() seed into a frame's
        # plan, so a frame reused across calls would freeze them
        import datetime
        import time

        eng = _deploy(spark)
        q = "SELECT current_date() AS d FROM Customers LIMIT 1"
        before = datetime.datetime.now(datetime.timezone.utc).date()
        d = eng.sql(q).collect()[0].d
        after = datetime.datetime.now(datetime.timezone.utc).date()
        assert d in (before, after)
        q2 = "SELECT current_timestamp() AS t FROM Customers LIMIT 1"
        t1 = eng.sql(q2).collect()[0].t
        time.sleep(0.01)
        assert eng.sql(q2).collect()[0].t > t1
        q3 = "SELECT rand() AS r FROM Customers LIMIT 1"
        assert eng.sql(q3).collect()[0].r != eng.sql(q3).collect()[0].r

    def test_limited_service_query(self, spark):
        from wren_engine_spark.serving import SemanticService

        eng = _deploy(spark)
        svc = SemanticService(eng)
        q = "SELECT Id, Total FROM Customers ORDER BY Id"
        assert len(svc.query(q, limit=2)["data"]) == 2
        out = svc.query(q, limit=1)
        assert len(out["data"]) == 1

    def test_errors_surface_as_pyspark_types(self, spark):
        # the direct JVM sql call must convert Java errors to the same
        # PySpark exception types spark.sql raises
        from pyspark.errors import AnalysisException

        eng = _deploy(spark)
        with pytest.raises(AnalysisException):
            eng.sql("SELECT definitely_missing FROM Customers")


class TestConcurrentSql:
    def test_concurrent_variant_swaps_do_not_race(self, spark):
        """Two threads alternating different calculated-field subsets on
        the same engine: without serialization, one thread's view swap
        lands between the other's registration and analysis and fails
        with UNRESOLVED_COLUMN (ADVICE race)."""
        import threading

        eng = _deploy(spark)
        errors: list[Exception] = []

        def worker(q: str) -> None:
            try:
                for _ in range(10):
                    eng.sql(q).collect()
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [
            threading.Thread(target=worker, args=("SELECT Id, Total FROM Customers",)),
            threading.Thread(target=worker, args=("SELECT Id, NOrders FROM Customers",)),
            threading.Thread(target=worker, args=("SELECT Oid, CustState FROM Orders",)),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors[:1]


class TestViewOrdering:
    def _manifest_with_views(self, views):
        return {
            "catalog": "t", "schema": "t",
            "models": [{
                "name": "base_m", "tableReference": "customers",
                "columns": [{"name": "id", "type": "int"},
                            {"name": "state", "type": "varchar"}],
            }],
            "views": views,
        }

    def test_out_of_order_views_deploy(self, spark):
        # v2 references v1 but is declared FIRST
        eng = _deploy(spark, self._manifest_with_views([
            {"name": "v2", "statement": "SELECT * FROM v1 WHERE id > 0"},
            {"name": "v1", "statement": "SELECT id, state FROM base_m"},
        ]))
        assert eng.sql("SELECT COUNT(*) AS n FROM v2").collect()[0].n >= 0

    def test_view_cycle_rejected(self, spark):
        from wren_engine_spark.engine import PlanError

        with pytest.raises(PlanError, match="cycle"):
            _deploy(spark, self._manifest_with_views([
                {"name": "va", "statement": "SELECT * FROM vb"},
                {"name": "vb", "statement": "SELECT * FROM va"},
            ]))


class TestCubes:
    """A cube is a generated view: it may read a manifest view, and a
    manifest view may read it."""

    _STATE_CUBE = {
        "name": "StateCube", "baseObject": "Customers", "cached": True,
        "measures": [{"name": "n", "expression": "count(*)", "type": "bigint"}],
        "dimensions": [{"name": "st", "expression": '"State"', "type": "varchar"}],
    }

    def test_view_over_cube_deploys(self, spark):
        man = {**BASE, "cubes": [self._STATE_CUBE], "views": [
            {"name": "BusyStates", "statement": "SELECT st, n FROM StateCube WHERE n >= 1"}]}
        eng = _deploy(spark, man)
        q = "SELECT st, n FROM BusyStates ORDER BY st"
        assert [tuple(r) for r in eng.sql(q).collect()] == [("CA", 1), ("NY", 1), ("TX", 1)]
        assert spark.table("BusyStates").count() == 3

    def test_cube_over_view_deploys(self, spark):
        man = {**BASE, "cubes": [{
            "name": "ViewCube", "baseObject": "StateView",
            "measures": [{"name": "states", "expression": "count(*)", "type": "bigint"},
                         {"name": "customers", "expression": "sum(n)", "type": "bigint"}],
        }]}
        eng = _deploy(spark, man)
        assert tuple(eng.sql("SELECT states, customers FROM ViewCube").collect()[0]) == (3, 3)
        assert tuple(eng.cube_drill("ViewCube").collect()[0]) == (3, 3)


class TestNonIdentifierNames:
    """Reference parity: quote-aware, case-sensitive identifiers — model,
    column, and view names that are not bare identifiers (unicode,
    spaces) must deploy and be queryable with backticks
    (mod.rs:823,1851,3448)."""

    MANIFEST = {
        "catalog": "t",
        "schema": "t",
        "models": [
            {
                "name": "客户 table",
                "tableReference": "customers",
                "primaryKey": "clé",
                "columns": [
                    {"name": "clé", "type": "int", "expression": "id"},
                    {"name": "namé", "type": "varchar", "expression": "name"},
                ],
            }
        ],
        "relationships": [],
        "views": [
            {"name": "vue française",
             "statement": 'SELECT `clé` FROM `客户 table` WHERE `clé` >= 2'}
        ],
    }

    def test_unicode_model_and_view(self, spark):
        eng = _deploy(spark, self.MANIFEST)
        rows = eng.sql('SELECT `clé`, `namé` FROM `客户 table` ORDER BY `clé`').collect()
        assert [r[0] for r in rows] == [1, 2, 3]
        assert eng.sql('SELECT COUNT(*) AS n FROM `vue française`').collect()[0].n == 2


class TestPlanErrors:
    """Calculated fields the planner cannot express raise PlanError at
    deploy (plan.rs:241-249), not a wrong answer at query time."""

    def _with_calc(self, model, expression):
        import copy

        man = copy.deepcopy(BASE)
        cols = man["models"][model]["columns"]
        cols.append({"name": "Bad", "type": "double", "isCalculated": True,
                     "expression": expression})
        return man

    def test_multi_path_aggregate_rejected(self, spark):
        from wren_engine_spark.engine import PlanError

        man = self._with_calc(0, 'sum("orders"."Price") / count("orders"."Oid")')
        with pytest.raises(PlanError, match="multiple relationship paths"):
            _deploy(spark, man)

    def test_non_aggregate_across_to_many_rejected(self, spark):
        from wren_engine_spark.engine import PlanError

        man = self._with_calc(0, '"orders"."Price"')
        with pytest.raises(PlanError, match="crosses to-many relationship CO"):
            _deploy(spark, man)


class TestCalcOrder:
    def test_calc_declared_before_the_calc_it_references(self, spark):
        import copy

        man = copy.deepcopy(BASE)
        cols = man["models"][0]["columns"]
        cols.insert(3, {"name": "TotalX2", "type": "double", "isCalculated": True,
                        "expression": '"Total" * 2'})
        eng = _deploy(spark, man)
        rows = eng.sql("SELECT Id, TotalX2 FROM Customers ORDER BY Id").collect()
        assert [(r.Id, r.TotalX2) for r in rows] == [(1, 300.0), (2, 140.0), (3, None)]
        # manifest order, not dependency order, in the model's schema
        assert eng.sql("SELECT * FROM Customers").columns == [
            "Id", "Name", "State", "TotalX2", "Total", "NOrders"]


class TestNoSessionMutation:
    def test_sql_registers_no_temp_view(self, spark):
        eng = _deploy(spark)
        names = ("Customers", "Orders", "StateView")

        def snapshot():
            tables = sorted((t.name, t.isTemporary) for t in spark.catalog.listTables())
            return tables, {n: spark.table(n).columns for n in names}

        before = snapshot()
        for q in ("SELECT Id, Total FROM Customers", "SELECT Id, NOrders FROM Customers",
                  "SELECT Oid, CustState FROM Orders", "SELECT * FROM StateView"):
            eng.sql(q).collect()
            assert snapshot() == before, q

    def test_sql_over_cached_model_reads_the_cache(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import MANIFEST, deploy

        manifest = {**MANIFEST}
        manifest["models"] = [
            {**m, "cached": True} if m["name"] == "region_m" else m
            for m in MANIFEST["models"]
        ]
        eng = deploy(spark, SF_DIR, manifest)
        try:
            df = eng.sql("SELECT regionkey, name FROM region_m WHERE regionkey > 1")
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" in plan
            assert df.count() == 3
        finally:
            spark.table("region_m").unpersist()


def _plan_nodes(df) -> list[str]:
    """Node names of the request's optimized plan. A cached relation is
    one leaf: the plan it caches is not walked."""
    out, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        out.append(node.nodeName())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


# 20:00 UTC is 05:00 the next day in Tokyo
_ZONED_CALCS = {
    "ZHour": ('hour("Ts")', 20, 5),
    "ZText": ('CAST("Ts" AS STRING)', "2024-06-01 20:00:00", "2024-06-02 05:00:00"),
    "ZDate": ('CAST("Ts" AS DATE)', "2024-06-01", "2024-06-02"),
    "ZFormat": ("date_format(\"Ts\", 'HH')", "20", "05"),
}


def _mat_manifest() -> dict:
    import copy

    man = copy.deepcopy(BASE)
    man["models"][0]["columns"].insert(3, {"name": "Ts", "type": "timestamp", "expression": "ts"})
    man["models"][1]["columns"].append(
        {"name": "Price2", "type": "decimal", "isCalculated": True,
         "expression": 'CAST("Price" AS DECIMAL(18,2))'})
    for name, (expr, _, _) in _ZONED_CALCS.items():
        man["models"].append({
            "name": name, "tableReference": "customers", "primaryKey": "Id",
            # cached forces past the size bound, never past the zone
            # check: the model view is cached, requests do not project
            "cached": name == "ZHour",
            "columns": [
                {"name": "Id", "type": "int", "expression": "id"},
                {"name": "Ts", "type": "timestamp", "expression": "ts"},
                {"name": "X", "type": "varchar", "isCalculated": True, "expression": expr},
            ],
        })
    man["models"].append({
        "name": "Volatile", "tableReference": "customers", "primaryKey": "Id",
        "columns": [
            {"name": "Id", "type": "int", "expression": "id"},
            {"name": "R", "type": "double", "isCalculated": True, "expression": "rand()"},
            {"name": "Now", "type": "timestamp", "isCalculated": True,
             "expression": "current_timestamp()"},
        ],
    })
    man["models"].append({
        "name": "Boom", "tableReference": "customers", "primaryKey": "Id",
        "columns": [
            {"name": "Id", "type": "int", "expression": "id"},
            {"name": "Bad", "type": "int", "isCalculated": True,
             "expression": "CASE WHEN \"Id\" = 2 THEN raise_error('boom') ELSE 1 END"},
        ],
    })
    return man


def _write_mat_sources(spark, root, customers) -> str:
    import datetime

    ts = datetime.datetime(2024, 6, 1, 20, 0, tzinfo=datetime.timezone.utc)
    spark.createDataFrame(
        [(i, n, s, ts) for i, n, s in customers],
        "id INT, name STRING, state STRING, ts TIMESTAMP",
    ).write.mode("overwrite").parquet(f"{root}/customers.parquet")
    spark.createDataFrame(
        [(10, 1, 100.0), (11, 1, 50.0), (12, 2, 70.0)],
        "oid INT, cust_id INT, price DOUBLE",
    ).write.mode("overwrite").parquet(f"{root}/orders.parquet")
    return str(root)


_MAT_CUSTOMERS = [(1, "alice", "NY"), (2, "bob", "CA"), (3, "carol", "TX")]


class TestMaterializedModels:
    """A model over small sources is cached once per deploy and requests
    project from it; a model whose rows depend on the zone or the time
    of the call stays inline."""

    @pytest.fixture(scope="class")
    def mat_dir(self, spark, tmp_path_factory):
        return _write_mat_sources(spark, tmp_path_factory.mktemp("mat"), _MAT_CUSTOMERS)

    @staticmethod
    def _deploy(spark, path, manifest=None):
        sources = SourceRegistry(spark).add_directory(path)
        return SemanticEngine(spark, Manifest.from_dict(manifest or _mat_manifest()), sources).deploy({})

    def test_small_model_reads_memory_and_joins_nothing(self, spark, mat_dir):
        eng = self._deploy(spark, mat_dir)
        df = eng.sql("SELECT Id, Total FROM Customers ORDER BY Id")
        nodes = _plan_nodes(df)
        assert "InMemoryRelation" in nodes and "Join" not in nodes, nodes
        assert [tuple(r) for r in df.collect()] == [(1, 150.0), (2, 70.0), (3, None)]
        # a to-one calc and a zone-free cast materialize too
        df = eng.sql("SELECT Oid, CustState, Price2 FROM Orders ORDER BY Oid")
        assert "InMemoryRelation" in _plan_nodes(df)
        assert [(r.Oid, r.CustState, float(r.Price2)) for r in df.collect()] == [
            (10, "NY", 100.0), (11, "NY", 50.0), (12, "CA", 70.0)]

    @pytest.mark.parametrize("name", list(_ZONED_CALCS))
    def test_zone_dependent_calc_answers_per_zone(self, spark, mat_dir, name):
        eng = self._deploy(spark, mat_dir)
        _, utc, tokyo = _ZONED_CALCS[name]
        q = f"SELECT Id, X FROM {name} ORDER BY Id"
        assert name.lower() not in eng._planner.materialized
        for tz, want in ((None, utc), ("UTC", utc), ("Asia/Tokyo", tokyo)):
            df = eng.sql(q, timezone=tz)
            # a plan of another zone never matches a cached model view
            if tz == "Asia/Tokyo" or name != "ZHour":
                assert "InMemoryRelation" not in _plan_nodes(df)
            got = {str(r.X) for r in df.collect()}
            assert got == {str(want)}, (tz, got)
        if name == "ZHour":
            assert "InMemoryRelation" in _plan_nodes(spark.table(name))

    def test_zone_dependent_cube_answers_per_zone(self, spark, mat_dir):
        # a cube follows the zone rule of models: a dimension that reads
        # the zone is computed in the request's zone
        man = _mat_manifest()
        man["cubes"] = [{
            "name": "HourCube", "baseObject": "Customers", "cached": True,
            "measures": [{"name": "n", "expression": "count(*)", "type": "bigint"}],
            "dimensions": [{"name": "H", "expression": 'hour("Ts")', "type": "int"}],
        }]
        eng = self._deploy(spark, mat_dir, man)
        q = "SELECT H, n FROM HourCube"
        for tz, hour in ((None, 20), ("UTC", 20), ("Asia/Tokyo", 5)):
            assert [tuple(r) for r in eng.sql(q, timezone=tz).collect()] == [(hour, 3)], tz
        assert [tuple(r) for r in eng.cube_drill("HourCube").collect()] == [(20, 3)]

    def test_volatile_calcs_evaluated_per_call(self, spark, mat_dir):
        import time

        eng = self._deploy(spark, mat_dir)
        assert "volatile" not in eng._planner.materialized
        df = eng.sql("SELECT R, Now FROM Volatile WHERE Id = 1")
        assert "InMemoryRelation" not in _plan_nodes(df)
        a = df.collect()[0]
        time.sleep(0.01)
        b = eng.sql("SELECT R, Now FROM Volatile WHERE Id = 1").collect()[0]
        assert a.R != b.R and b.Now > a.Now

    def test_threshold_off_keeps_model_inline(self, spark, mat_dir):
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            man = _mat_manifest()
            man["models"][1]["cached"] = True
            eng = self._deploy(spark, mat_dir, man)
        finally:
            spark.conf.set(key, old)
        df = eng.sql("SELECT Id, Total FROM Customers ORDER BY Id")
        nodes = _plan_nodes(df)
        assert "InMemoryRelation" not in nodes and "Join" in nodes, nodes
        assert [tuple(r) for r in df.collect()] == [(1, 150.0), (2, 70.0), (3, None)]
        # the cached flag forces materialization past the size bound
        assert "InMemoryRelation" in _plan_nodes(eng.sql("SELECT Oid FROM Orders"))

    def test_redeploy_reads_rows_afresh(self, spark, tmp_path):
        # models and cached cubes alike
        path = _write_mat_sources(spark, tmp_path, _MAT_CUSTOMERS)
        man = _mat_manifest()
        man["cubes"] = [{
            "name": "MatCube", "baseObject": "Customers", "cached": True,
            "measures": [{"name": "n", "expression": "count(*)", "type": "bigint"}],
            "dimensions": [{"name": "State", "expression": "State", "type": "varchar"}],
        }]
        def pinned():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

        base = pinned()
        eng = self._deploy(spark, path, man)
        q = "SELECT Id, Total FROM Customers ORDER BY Id"
        cube_q = "SELECT State FROM MatCube ORDER BY State"
        assert [r.Id for r in eng.sql(q).collect()] == [1, 2, 3]
        assert spark.table("MatCube").count() == 3
        # a request reads the cube's rows from memory
        assert "InMemoryRelation" in _plan_nodes(eng.sql(cube_q))
        first = pinned() - base
        assert first
        _write_mat_sources(spark, tmp_path, [(1, "alice", "NY"), (7, "gus", "WA")])
        eng.deploy({})
        assert [tuple(r) for r in eng.sql(q).collect()] == [(1, 150.0), (7, None)]
        assert sorted(r.State for r in spark.table("MatCube").collect()) == ["NY", "WA"]
        assert [r.State for r in eng.sql(cube_q).collect()] == ["NY", "WA"]
        # the previous deploy's frames are no longer pinned
        assert not first & pinned()

    def test_calc_failing_at_run_time_keeps_model_inline(self, spark, mat_dir):
        # a request that does not name the failing calc still answers
        eng = self._deploy(spark, mat_dir)
        assert "boom" not in eng._planner.materialized
        df = eng.sql("SELECT Id FROM Boom ORDER BY Id")
        assert "InMemoryRelation" not in _plan_nodes(df)
        assert [r.Id for r in df.collect()] == [1, 2, 3]
        with pytest.raises(Exception, match="boom"):
            eng.sql("SELECT Id, Bad FROM Boom").collect()

    @pytest.mark.parametrize("how", ["redeploy", "new_engine", "redeploy_inline"])
    def test_redeploy_reads_files_rewritten_outside_spark(self, spark, tmp_path, how):
        # a writer other than Spark's leaves Spark's cache as it is: a
        # redeploy, a new engine's deploy, or a redeploy that keeps the
        # model inline must not read the frames an earlier deploy cached
        import datetime
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        path = _write_mat_sources(spark, tmp_path, _MAT_CUSTOMERS)
        man = _mat_manifest()
        man["cubes"] = [{
            "name": "ArrowCube", "baseObject": "Customers", "cached": True,
            "measures": [{"name": "n", "expression": "count(*)", "type": "bigint"}],
            "dimensions": [{"name": "State", "expression": "State", "type": "varchar"}],
        }]
        eng = self._deploy(spark, path, man)
        q = "SELECT Id, Total FROM Customers ORDER BY Id"
        assert [r.Id for r in eng.sql(q).collect()] == [1, 2, 3]
        assert spark.table("ArrowCube").count() == 3
        target = os.path.join(path, "customers.parquet")
        shutil.rmtree(target)
        os.makedirs(target)
        ts = datetime.datetime(2024, 6, 1, 20, 0, tzinfo=datetime.timezone.utc)
        pq.write_table(pa.table({
            "id": pa.array([1, 7], pa.int32()),
            "name": ["alice", "gus"],
            "state": ["NY", "WA"],
            "ts": pa.array([ts, ts], pa.timestamp("us", tz="UTC")),
        }), os.path.join(target, "part-0.parquet"))
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        if how == "redeploy_inline":
            spark.conf.set(key, "-1")
        try:
            if how == "new_engine":
                eng = self._deploy(spark, path, man)
            else:
                eng.deploy({})
        finally:
            spark.conf.set(key, old)
        assert [tuple(r) for r in eng.sql(q).collect()] == [(1, 150.0), (7, None)]
        assert [r.Id for r in spark.table("Customers").collect()] == [1, 7]
        assert sorted(r.State for r in spark.table("ArrowCube").collect()) == ["NY", "WA"]
        cube_q = "SELECT State FROM ArrowCube ORDER BY State"
        assert [r.State for r in eng.sql(cube_q).collect()] == ["NY", "WA"]
