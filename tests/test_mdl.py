"""Manifest / type-mapper / lineage unit tests (mirrors the reference's
manifest tests, wren-core-base/src/mdl/manifest.rs and lineage.rs)."""

import base64
import json

import pytest
from pyspark.sql import types as T

from wren_engine_spark.mdl.lineage import (
    LineageError,
    check_cycles,
    extract_paths,
    is_aggregate_expression,
)
from wren_engine_spark.mdl.manifest import Manifest, ManifestError, Model
from wren_engine_spark.mdl.types import map_type


def _mini(models=None, relationships=None):
    return {
        "catalog": "c",
        "schema": "s",
        "models": models or [],
        "relationships": relationships or [],
    }


class TestManifest:
    def test_base64_roundtrip(self):
        d = _mini([{"name": "m", "tableReference": "t", "columns": [{"name": "a"}]}])
        m = Manifest.from_base64(base64.b64encode(json.dumps(d).encode()))
        assert m.models[0].name == "m"
        assert m.models[0].columns[0].type == "string"

    def test_bool_from_int_backcompat(self):
        # manifest.rs:295-318: 0/1 accepted for bools
        d = {"name": "m", "tableReference": "t",
             "columns": [{"name": "a", "isCalculated": 1, "expression": "1+1"},
                         {"name": "b", "isHidden": 0}]}
        m = Model.from_dict(d)
        assert m.columns[0].is_calculated is True
        assert m.columns[1].is_hidden is False

    def test_layout_version_check(self):
        # manifest.rs:96-109: layout_version <= 2
        with pytest.raises(ManifestError):
            Manifest.from_dict({"layoutVersion": 3})
        assert Manifest.from_dict({"layoutVersion": 2}).layout_version == 2

    def test_source_xor(self):
        # manifest.rs:396-407: tableReference XOR refSql
        with pytest.raises(ManifestError):
            Model.from_dict({"name": "m", "tableReference": "t", "refSql": "SELECT 1"})
        with pytest.raises(ManifestError):
            Model.from_dict({"name": "m"})

    def test_table_reference_struct_form(self):
        m = Model.from_dict(
            {"name": "m", "tableReference": {"catalog": "c", "schema": "s", "table": "t"}}
        )
        assert m.table_reference == "c.s.t"

    def test_session_property_lowercased(self):
        man = Manifest.from_dict(
            _mini([{
                "name": "m", "tableReference": "t",
                "rowLevelAccessControls": [{
                    "condition": "x > @Level",
                    "requiredProperties": [{"name": "LEVEL", "required": True}],
                }],
                "columns": [{"name": "x"}],
            }])
        )
        rule = man.models[0].row_level_access_controls[0]
        assert rule.required_properties[0].name == "level"


class TestTypes:
    # utils.rs:123-196 map_data_type parity
    @pytest.mark.parametrize(
        "mdl,expected",
        [
            ("boolean", T.BooleanType()),
            ("int4", T.IntegerType()),
            ("bigint", T.LongType()),
            ("decimal", T.DecimalType(38, 10)),
            ("decimal(15,2)", T.DecimalType(15, 2)),
            ("varchar", T.StringType()),
            ("varchar(64)", T.StringType()),
            ("timestamp", T.TimestampNTZType()),
            ("timestamptz", T.TimestampType()),
            ("date", T.DateType()),
            ("bytea", T.BinaryType()),
            ("json", T.StringType()),
            ("array<int>", T.ArrayType(T.IntegerType())),
            ("double[]", T.ArrayType(T.DoubleType())),
            ("struct<a:int,b:varchar>",
             T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("b", T.StringType())])),
            ("array<struct<x:double>>",
             T.ArrayType(T.StructType([T.StructField("x", T.DoubleType())]))),
            ("map<varchar,int>", T.MapType(T.StringType(), T.IntegerType())),
            ("no_such_type", T.StringType()),
        ],
    )
    def test_map_type(self, mdl, expected):
        assert map_type(mdl) == expected


REL_MANIFEST = _mini(
    models=[
        {"name": "A", "tableReference": "a", "primaryKey": "id",
         "columns": [{"name": "id"}, {"name": "b_id"},
                     {"name": "b", "relationship": "AB"},
                     {"name": "b_name", "isCalculated": True, "expression": '"b"."name"'},
                     {"name": "c_total", "isCalculated": True,
                      "expression": 'sum("b"."c"."val")'}]},
        {"name": "B", "tableReference": "b", "primaryKey": "id",
         "columns": [{"name": "id"}, {"name": "name"},
                     {"name": "c", "relationship": "BC"}]},
        {"name": "C", "tableReference": "c", "primaryKey": "id",
         "columns": [{"name": "id"}, {"name": "b_id"}, {"name": "val"}]},
    ],
    relationships=[
        {"name": "AB", "models": ["A", "B"], "joinType": "MANY_TO_ONE",
         "condition": '"A"."b_id" = "B"."id"'},
        {"name": "BC", "models": ["B", "C"], "joinType": "ONE_TO_MANY",
         "condition": '"B"."id" = "C"."b_id"'},
    ],
)


class TestLineage:
    def test_single_hop_path(self):
        man = Manifest.from_dict(REL_MANIFEST)
        paths = extract_paths(man.model("A"), man, '"b"."name"')
        assert len(paths) == 1
        assert paths[0].hops == ["b"]
        assert paths[0].models == ["B"]
        assert paths[0].terminal == "name"

    def test_two_hop_path(self):
        man = Manifest.from_dict(REL_MANIFEST)
        paths = extract_paths(man.model("A"), man, 'sum("b"."c"."val")')
        assert paths[0].hops == ["b", "c"]
        assert paths[0].models == ["B", "C"]
        assert paths[0].terminal == "val"

    def test_non_relationship_chain_ignored(self):
        man = Manifest.from_dict(REL_MANIFEST)
        assert extract_paths(man.model("A"), man, '"A"."id" + 1') == []

    def test_unknown_terminal_raises(self):
        man = Manifest.from_dict(REL_MANIFEST)
        with pytest.raises(LineageError):
            extract_paths(man.model("A"), man, '"b"."nope"')

    def test_aggregate_detection(self):
        assert is_aggregate_expression('sum("x"."y")')
        assert is_aggregate_expression('COUNT("a"."b")')
        assert not is_aggregate_expression('"x"."y" + 1')
        # substring of a name must not trigger (e.g. "summary")
        assert not is_aggregate_expression('"summary_col"')

    def test_cycle_detection(self):
        cyc = _mini(
            models=[
                {"name": "A", "tableReference": "a", "primaryKey": "id",
                 "columns": [{"name": "id"},
                             {"name": "b", "relationship": "AB"},
                             {"name": "x", "isCalculated": True, "expression": '"b"."y"'}]},
                {"name": "B", "tableReference": "b", "primaryKey": "id",
                 "columns": [{"name": "id"},
                             {"name": "a", "relationship": "AB"},
                             {"name": "y", "isCalculated": True, "expression": '"a"."x"'}]},
            ],
            relationships=[{"name": "AB", "models": ["A", "B"],
                            "joinType": "ONE_TO_ONE", "condition": '"A"."id" = "B"."id"'}],
        )
        with pytest.raises(LineageError, match="cycle"):
            check_cycles(Manifest.from_dict(cyc))

    def test_no_false_cycle(self):
        check_cycles(Manifest.from_dict(REL_MANIFEST))  # must not raise
