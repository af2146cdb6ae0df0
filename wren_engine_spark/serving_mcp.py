"""MCP tool surface over the semantic engine.

Parity with the reference's mcp-server (mcp-server/app/wren.py:249-738):
the same tool set — deploy (base64 MDL manifest), validate, query,
dry_run, list tables/columns/relationships/functions, health — exposed
as a transport-agnostic tool registry. Each tool is a plain callable
plus a JSON-schema declaration, so any MCP host library (or an HTTP
shim) can mount them; no MCP package is required for the logic itself.
"""

from __future__ import annotations

import base64
import json
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from wren_engine_spark.engine import SemanticEngine
from wren_engine_spark.mdl.manifest import Manifest
from wren_engine_spark.serving import SemanticService
from wren_engine_spark.sources.registry import SourceRegistry


@dataclass
class Tool:
    name: str
    description: str
    input_schema: dict
    fn: Callable[..., dict] = field(repr=False, default=None)


class McpToolServer:
    """Stateful tool host: ``deploy`` installs a manifest; the query and
    metadata tools operate on the deployed engine (reference keeps the
    same deploy-then-query state machine)."""

    def __init__(self, spark: SparkSession, sources: SourceRegistry | None = None):
        self.spark = spark
        self.sources = sources or SourceRegistry(spark)
        self.service: SemanticService | None = None

    # --------------------------------------------------------------- tools

    def deploy(self, manifest_b64: str | None = None, manifest: dict | None = None,
               properties: dict | None = None) -> dict:
        if manifest_b64:
            manifest = json.loads(base64.b64decode(manifest_b64))
        if manifest is None:
            return {"error": "manifest or manifest_b64 required"}
        eng = SemanticEngine(self.spark, Manifest.from_dict(manifest), self.sources)
        eng.deploy(properties or {})
        self.service = SemanticService(eng)
        return {"deployed": True, "models": [m.name for m in eng.manifest.models]}

    def _svc(self) -> SemanticService:
        if self.service is None:
            raise RuntimeError("no manifest deployed — call deploy first")
        return self.service

    def query(self, sql: str, limit: int | None = None,
              timeout_s: float | None = None,
              timezone: str | None = None) -> dict:
        return self._svc().query(sql, limit=limit, timeout_s=timeout_s,
                                 timezone=timezone)

    def dry_run(self, sql: str) -> dict:
        self._svc().query(sql, dry_run=True)
        return {"valid": True}

    def validate(self, model: str, column: str) -> dict:
        return {"valid": self._svc().validate_column_is_valid(model, column)}

    def list_tables(self) -> dict:
        return {"tables": self._svc().tables()}

    def list_columns(self, model: str) -> dict:
        tables = {t["name"]: t for t in self._svc().tables()}
        if model not in tables:
            return {"error": f"unknown model {model!r}"}
        return {"columns": tables[model]["columns"]}

    def list_relationships(self) -> dict:
        return {"relationships": self._svc().relationships()}

    def list_functions(self) -> dict:
        return {"functions": [f["name"] for f in self._svc().functions()]}

    def knowledge(self) -> dict:
        """Text-to-SQL rules + deployed schema for agents (reference
        GET /{ds}/knowledge)."""
        return self._svc().knowledge()

    def dry_plan(self, sql: str, dialect: str | None = None) -> dict:
        """Expanded SQL text, optionally rendered for another engine
        (duckdb/postgres/ansi)."""
        return {"sql": self._svc().dry_plan(sql, dialect=dialect)}

    def remote_metadata(self, alias: str, schema_pattern: str | None = None) -> dict:
        """Live table/column/pk metadata of a registered JDBC backend
        (reference per-backend metadata scraping)."""
        return {"tables": self.sources.jdbc_metadata(alias, schema_pattern)}

    def health(self) -> dict:
        try:
            self.spark.sql("SELECT 1").collect()
            return {"status": "ok", "deployed": self.service is not None}
        except Exception as e:  # noqa: BLE001
            return {"status": "error", "detail": str(e)}

    # ------------------------------------------------------------ registry

    def tools(self) -> list[Tool]:
        s = {"type": "object", "properties": {}}

        def obj(**props):
            return {
                "type": "object",
                "properties": {k: {"type": v} for k, v in props.items()},
            }

        return [
            Tool("deploy", "Deploy a base64 MDL manifest",
                 obj(manifest_b64="string"), self.deploy),
            Tool("query", "Run SQL against the deployed semantic layer",
                 obj(sql="string", limit="integer"), self.query),
            Tool("dry_run", "Validate a SQL without executing",
                 obj(sql="string"), self.dry_run),
            Tool("validate", "Check a model column is valid",
                 obj(model="string", column="string"), self.validate),
            Tool("list_tables", "List deployed models with columns", s, self.list_tables),
            Tool("list_columns", "List one model's columns",
                 obj(model="string"), self.list_columns),
            Tool("list_relationships", "List relationships", s, self.list_relationships),
            Tool("list_functions", "List callable functions", s, self.list_functions),
            Tool("knowledge", "Text-to-SQL rules and schema for agents", s, self.knowledge),
            Tool("dry_plan", "Expanded SQL text, optionally in another dialect",
                 obj(sql="string", dialect="string"), self.dry_plan),
            Tool("remote_metadata", "Live JDBC backend table/column metadata",
                 obj(alias="string", schema_pattern="string"), self.remote_metadata),
            Tool("health", "Engine health check", s, self.health),
        ]
