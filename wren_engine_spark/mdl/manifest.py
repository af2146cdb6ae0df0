"""MDL manifest data model.

Mirrors the reference's manifest abstractions (structs generated by
wren-core-base/manifest-macro/src/lib.rs:26-599; field semantics per
SURVEY.md §1.1) as plain dataclasses with camelCase JSON (de)serialization
and base64 loading, bool-from-int backcompat
(wren-core-base/src/mdl/manifest.rs:295-318) and the layout-version check
(manifest.rs:96-109).

This module is pure Python — no Spark imports — so manifest handling can
run on a thin client or the driver with zero JVM cost.
"""

from __future__ import annotations

import base64
import json
from dataclasses import dataclass, field
from typing import Any

MAX_LAYOUT_VERSION = 2

def _as_bool(v: Any, default: bool = False) -> bool:
    # backcompat: the reference accepts 0/1 ints for bools
    # (wren-core-base/src/mdl/manifest.rs:295-318)
    if v is None:
        return default
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return bool(v)
    if isinstance(v, str):
        return v.strip().lower() in ("true", "1", "yes")
    return default


class ManifestError(ValueError):
    pass


@dataclass
class SessionProperty:
    """A session variable a rule requires (manifest-macro/src/lib.rs:453-500).

    Names are normalized to lowercase, matching the reference.
    """

    name: str
    required: bool = False
    default_expr: str | None = None

    def __post_init__(self) -> None:
        self.name = self.name.lower()

    @classmethod
    def from_dict(cls, d: dict) -> "SessionProperty":
        return cls(
            name=d["name"],
            required=_as_bool(d.get("required")),
            default_expr=d.get("defaultExpr") or d.get("default_expr"),
        )


@dataclass
class RowLevelAccessControl:
    """RLS rule (manifest-macro/src/lib.rs:428-441): boolean SQL condition,
    may reference session vars as ``@var``."""

    name: str
    condition: str
    required_properties: list[SessionProperty] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict) -> "RowLevelAccessControl":
        return cls(
            name=d.get("name", ""),
            condition=d["condition"],
            required_properties=[
                SessionProperty.from_dict(p)
                for p in d.get("requiredProperties", d.get("required_properties", []))
            ],
        )


@dataclass
class NormalizedExpr:
    value: str
    type: str = "STRING"  # NUMERIC | STRING

    @classmethod
    def from_dict(cls, d: Any) -> "NormalizedExpr":
        if isinstance(d, dict):
            return cls(value=str(d.get("value")), type=d.get("type", "STRING").upper())
        return cls(value=str(d))


@dataclass
class ColumnLevelAccessControl:
    """CLAC rule (manifest-macro/src/lib.rs:517-597): the column is visible
    only if the session property compares true against the threshold."""

    name: str
    operator: str = "EQUALS"  # EQUALS NOT_EQUALS GREATER_THAN LESS_THAN ...
    threshold: NormalizedExpr | None = None
    required_properties: list[SessionProperty] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict) -> "ColumnLevelAccessControl":
        return cls(
            name=d.get("name", ""),
            operator=d.get("operator", "EQUALS").upper(),
            threshold=NormalizedExpr.from_dict(d["threshold"]) if "threshold" in d else None,
            required_properties=[
                SessionProperty.from_dict(p)
                for p in d.get("requiredProperties", d.get("required_properties", []))
            ],
        )


@dataclass
class Column:
    """Model column (manifest-macro/src/lib.rs:183-206).

    - ``relationship`` set => relationship column (non-physical; names a
      Relationship and exposes the related model for expression paths).
    - ``is_calculated`` => ``expression`` may traverse relationship columns
      (e.g. ``"Customers"."State"`` or ``sum("Order_items"."Price")``).
    - otherwise ``expression`` (default: the column name) is evaluated
      against the physical source.
    """

    name: str
    type: str = "string"
    relationship: str | None = None
    is_calculated: bool = False
    not_null: bool = False
    expression: str | None = None
    is_hidden: bool = False
    column_level_access_control: ColumnLevelAccessControl | None = None

    @classmethod
    def from_dict(cls, d: dict) -> "Column":
        clac = d.get("columnLevelAccessControl") or d.get("column_level_access_control")
        return cls(
            name=d["name"],
            type=d.get("type", "string"),
            relationship=d.get("relationship"),
            is_calculated=_as_bool(d.get("isCalculated", d.get("is_calculated"))),
            not_null=_as_bool(d.get("notNull", d.get("not_null"))),
            expression=d.get("expression"),
            is_hidden=_as_bool(d.get("isHidden", d.get("is_hidden"))),
            column_level_access_control=(
                ColumnLevelAccessControl.from_dict(clac) if clac else None
            ),
        )

    @property
    def is_relationship(self) -> bool:
        return self.relationship is not None

    @property
    def sql_expression(self) -> str:
        return self.expression if self.expression else quote_ident(self.name)


@dataclass
class Model:
    """Semantic model (manifest-macro/src/lib.rs:141-168).

    Source is ``table_reference`` XOR ``ref_sql``
    (wren-core-base/src/mdl/manifest.rs:396-407).
    """

    name: str
    columns: list[Column] = field(default_factory=list)
    table_reference: str | None = None
    ref_sql: str | None = None
    primary_key: str | None = None
    cached: bool = False
    refresh_time: str | None = None
    row_level_access_controls: list[RowLevelAccessControl] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.table_reference and self.ref_sql:
            raise ManifestError(
                f"model {self.name}: tableReference and refSql are mutually exclusive"
            )
        if not self.table_reference and not self.ref_sql:
            raise ManifestError(f"model {self.name}: needs tableReference or refSql")

    @classmethod
    def from_dict(cls, d: dict) -> "Model":
        tref = d.get("tableReference", d.get("table_reference"))
        if isinstance(tref, dict):
            parts = [tref.get("catalog"), tref.get("schema"), tref.get("table")]
            tref = ".".join(p for p in parts if p)
        return cls(
            name=d["name"],
            columns=[Column.from_dict(c) for c in d.get("columns", [])],
            table_reference=tref,
            ref_sql=d.get("refSql", d.get("ref_sql")),
            primary_key=d.get("primaryKey", d.get("primary_key")),
            cached=_as_bool(d.get("cached")),
            refresh_time=d.get("refreshTime", d.get("refresh_time")),
            row_level_access_controls=[
                RowLevelAccessControl.from_dict(r)
                for r in d.get("rowLevelAccessControls", d.get("row_level_access_controls", []))
            ],
        )

    def column(self, name: str) -> Column | None:
        low = name.lower()
        for c in self.columns:
            if c.name.lower() == low:
                return c
        return None

    @property
    def physical_columns(self) -> list[Column]:
        return [c for c in self.columns if not c.is_relationship and not c.is_calculated]

    @property
    def calculated_columns(self) -> list[Column]:
        return [c for c in self.columns if c.is_calculated]

    @property
    def relationship_columns(self) -> list[Column]:
        return [c for c in self.columns if c.is_relationship]


@dataclass
class Relationship:
    """Join edge (manifest-macro/src/lib.rs:221-265)."""

    name: str
    models: list[str]
    join_type: str  # ONE_TO_ONE | ONE_TO_MANY | MANY_TO_ONE | MANY_TO_MANY
    condition: str

    @classmethod
    def from_dict(cls, d: dict) -> "Relationship":
        return cls(
            name=d["name"],
            models=list(d["models"]),
            join_type=d.get("joinType", d.get("join_type", "ONE_TO_ONE")).upper(),
            condition=d["condition"],
        )

    def is_to_one(self, from_model: str) -> bool:
        """Is the far end single-row per near row?
        (wren-core-base/src/mdl/manifest.rs:320-324)"""
        jt = self.join_type
        if jt == "ONE_TO_ONE":
            return True
        other_first = self.models[0].lower() != from_model.lower()
        if jt == "MANY_TO_ONE":
            return not other_first
        if jt == "ONE_TO_MANY":
            return other_first
        return False

    def other_model(self, model: str) -> str:
        if self.models[0].lower() == model.lower():
            return self.models[1]
        return self.models[0]


@dataclass
class View:
    """SQL view over models (manifest-macro/src/lib.rs:402-414)."""

    name: str
    statement: str

    @classmethod
    def from_dict(cls, d: dict) -> "View":
        return cls(name=d["name"], statement=d["statement"])


@dataclass
class CubeField:
    name: str
    expression: str
    type: str = "string"

    @classmethod
    def from_dict(cls, d: dict) -> "CubeField":
        return cls(
            name=d["name"], expression=d.get("expression", d["name"]), type=d.get("type", "string")
        )


@dataclass
class Cube:
    """Pre-aggregation spec (manifest-macro/src/lib.rs:352-385)."""

    name: str
    base_object: str
    measures: list[CubeField] = field(default_factory=list)
    dimensions: list[CubeField] = field(default_factory=list)
    time_dimensions: list[CubeField] = field(default_factory=list)
    hierarchies: dict[str, list[str]] = field(default_factory=dict)
    cached: bool = False

    @classmethod
    def from_dict(cls, d: dict) -> "Cube":
        return cls(
            name=d["name"],
            base_object=d.get("baseObject", d.get("base_object", "")),
            measures=[CubeField.from_dict(m) for m in d.get("measures", [])],
            dimensions=[CubeField.from_dict(m) for m in d.get("dimensions", [])],
            time_dimensions=[CubeField.from_dict(m) for m in d.get("timeDimensions", [])],
            hierarchies=dict(d.get("hierarchies", {})),
            cached=_as_bool(d.get("cached")),
        )


@dataclass
class Manifest:
    """Top-level manifest (manifest-macro/src/lib.rs:36-62)."""

    catalog: str = "wren"
    schema: str = "public"
    models: list[Model] = field(default_factory=list)
    relationships: list[Relationship] = field(default_factory=list)
    views: list[View] = field(default_factory=list)
    cubes: list[Cube] = field(default_factory=list)
    data_source: str | None = None
    layout_version: int = 1

    def __post_init__(self) -> None:
        if self.layout_version > MAX_LAYOUT_VERSION:
            raise ManifestError(
                f"unsupported layoutVersion {self.layout_version} (max {MAX_LAYOUT_VERSION})"
            )

    @classmethod
    def from_dict(cls, d: dict) -> "Manifest":
        return cls(
            catalog=d.get("catalog", "wren"),
            schema=d.get("schema", "public"),
            models=[Model.from_dict(m) for m in d.get("models", [])],
            relationships=[Relationship.from_dict(r) for r in d.get("relationships", [])],
            views=[View.from_dict(v) for v in d.get("views", [])],
            cubes=[Cube.from_dict(c) for c in d.get("cubes", [])],
            data_source=d.get("dataSource", d.get("data_source")),
            layout_version=int(d.get("layoutVersion", d.get("layout_version", 1)) or 1),
        )

    @classmethod
    def from_json(cls, s: str | bytes) -> "Manifest":
        return cls.from_dict(json.loads(s))

    @classmethod
    def from_base64(cls, s: str | bytes) -> "Manifest":
        """Load a base64-encoded MDL JSON (the wire format of the
        reference's ``manifestStr`` request field)."""
        return cls.from_json(base64.b64decode(s))

    def model(self, name: str) -> Model | None:
        low = name.lower()
        for m in self.models:
            if m.name.lower() == low:
                return m
        return None

    def relationship(self, name: str) -> Relationship | None:
        low = name.lower()
        for r in self.relationships:
            if r.name.lower() == low:
                return r
        return None


def quote_ident(name: str) -> str:
    """Quote an identifier for Spark SQL (backticks)."""
    return "`" + name.replace("`", "``") + "`"
