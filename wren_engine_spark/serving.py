"""Serving layer: the reference's v3 API surface over SemanticEngine.

Maps SURVEY.md §2.C onto plain Python methods (SemanticService) plus an
optional FastAPI app factory (guarded import — fastapi is not in the
base container). Endpoints → methods:

  POST /v3/connector/{ds}/query (+dryRun/limit/cache) -> query()
  POST /v3/connector/dry-plan                          -> dry_plan()
  POST /{ds}/validate/{rule}                           -> validate()
  GET  /{ds}/functions, /function/{name}               -> functions()/function()
  POST /{ds}/model-substitute                          -> model_substitute()
  metadata endpoints                                   -> tables()/columns()

Result JSON matches the reference formatter
(ibis-server/app/util.py:122-147, 284-305): {columns, data, dtypes} with
decimal→float (0-case kept), dates ``%Y-%m-%d``, timestamps
``%Y-%m-%d %H:%M:%S.%f``, binary→hex.

The opt-in query cache stores that envelope, as JSON, once the request
has built it — as the reference caches the result it has already
fetched (app/query_cache/__init__.py:11-48). Writing an entry runs no
Spark job and a hit runs none, so a request executes its query at most
once.
"""

from __future__ import annotations

import contextlib
import datetime
import hashlib
import json
import os
import re
import tempfile
import time
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame

from wren_engine_spark.engine import SemanticEngine
from wren_engine_spark.functions.catalog import FunctionCatalog

def _format_cell(v: Any) -> Any:
    # util.py:284-305 _formater parity
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return [_format_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: _format_cell(x) for k, x in v.items()}
    return v


def _render_timestamps_in_zone(df: DataFrame, tz: str) -> DataFrame:
    """Convert TIMESTAMP (instant / LTZ) columns to the requested zone's
    wall clock as TIMESTAMP_NTZ — the reference formatter's display
    semantics (tz_convert then offset-free strftime). The construction
    is session-zone INDEPENDENT (it must be: these expressions are
    analyzed in the request zone's session): shift the instant
    by the zone offset (``from_utc_timestamp`` is pure micros
    arithmetic) and rebuild an NTZ from epoch micros. NTZ columns pass
    through — they carry no zone to convert."""
    from pyspark.sql import functions as F

    from wren_engine_spark.mdl.manifest import quote_ident

    fields = [
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ]
    if not any(t == "timestamp" for _, t in fields):
        return df

    safe_tz = tz.replace("'", "''")

    def wall_clock(name: str):
        return F.expr(
            "timestampadd(MICROSECOND, unix_micros("
            f"from_utc_timestamp({quote_ident(name)}, '{safe_tz}')"
            "), TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )

    return df.select(
        *[
            wall_clock(name).alias(name) if t == "timestamp" else F.col(quote_ident(name))
            for name, t in fields
        ]
    )


def to_json(df: DataFrame, rows: list | None = None) -> dict:
    """{columns, data, dtypes} result envelope."""
    collected = df.collect() if rows is None else rows
    return {
        "columns": df.columns,
        "data": [[_format_cell(v) for v in row] for row in collected],
        "dtypes": {f.name: f.dataType.simpleString() for f in df.schema.fields},
    }


# Entries kept in a cache dir; past it the least recently used go first.
_QUERY_CACHE_MAX_ENTRIES = 256


class QueryCache:
    """Opt-in query cache keyed by (deploy, sql, limit, timezone,
    properties) — reference app/query_cache/__init__.py:11-48.

    An entry is the ``{columns, data, dtypes}`` envelope ``to_json``
    built for the response, as one JSON file: storing it needs no second
    execution of the query, and a hit answers with no Spark job. Entries
    are written to a temp file and renamed into place, so a reader sees
    a whole entry or none. At most ``_QUERY_CACHE_MAX_ENTRIES`` are kept;
    a hit refreshes an entry's mtime and the oldest are evicted. Other
    files in the dir (temp files, entries of older layouts) are never
    read or counted."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, hashlib.sha256(key.encode()).hexdigest() + ".json")

    def get(self, key: str) -> dict | None:
        p = self._path(key)
        try:
            with open(p, encoding="utf-8") as f:
                entry = json.load(f)
        except FileNotFoundError:  # never written, or evicted
            return None
        # explicit ns: the kernel's file clock is too coarse to order
        # back-to-back uses
        now = time.time_ns()
        with contextlib.suppress(FileNotFoundError):
            os.utime(p, ns=(now, now))
        return entry

    def set(self, out: dict, key: str) -> None:
        """Store ``out``, unless JSON cannot hold one of its values (an
        INTERVAL column collects as ``timedelta``, for example): such a
        result is served but not cached."""
        try:
            text = json.dumps(out)
        except TypeError:
            return
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix=".tmp-")
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                f.write(text)
            now = time.time_ns()
            os.utime(tmp, ns=(now, now))
            os.replace(tmp, self._path(key))
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
            raise
        self._evict()

    def _evict(self) -> None:
        entries = [e for e in os.scandir(self.root) if e.name.endswith(".json")]
        excess = len(entries) - _QUERY_CACHE_MAX_ENTRIES
        if excess <= 0:
            return

        def mtime(e: os.DirEntry) -> int:
            try:
                return e.stat().st_mtime_ns
            except FileNotFoundError:  # evicted by a concurrent writer
                return -1

        for e in sorted(entries, key=mtime)[:excess]:
            with contextlib.suppress(FileNotFoundError):
                os.remove(e.path)


class QueryTimeoutError(TimeoutError):
    """Raised when a query exceeds its timeout; the Spark jobs tagged
    for the call are cancelled so executors stop burning (reference
    timeout envelope: ibis-server/app/util.py:319-475 — asyncio timeout
    + connector close; here the Spark-native equivalent is job-tag
    cancellation)."""


def collect_with_timeout(df: DataFrame, timeout_s: float | None) -> list:
    """Collect ``df``, cancelling the underlying Spark jobs if they run
    past ``timeout_s`` seconds. The collect runs in an
    ``InheritableThread``, so its jobs keep the caller's job group,
    description and tags; one extra job tag, unique to the call, is what
    the timeout cancels."""
    if not timeout_s:
        return df.collect()
    import uuid

    from pyspark import InheritableThread

    session = df.sparkSession
    sc = session.sparkContext
    tag = f"weng-timeout-{uuid.uuid4().hex[:8]}"
    result: list = []
    err: list = []

    def run() -> None:
        # job tags are thread-local: this marks the worker's jobs only
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(True)
        try:
            result.append(df.collect())
        except Exception as e:  # noqa: BLE001 - surfaced to caller
            err.append(e)
        finally:
            sc.removeJobTag(tag)

    t = InheritableThread(run, session=session, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        sc.cancelJobsWithTag(tag)
        raise QueryTimeoutError(f"query exceeded {timeout_s}s and was cancelled")
    if err:
        raise err[0]
    return result[0]


class SemanticService:
    def __init__(self, engine: SemanticEngine, cache_dir: str | None = None):
        self.engine = engine
        self.catalog = FunctionCatalog(engine.spark)
        self.cache = QueryCache(cache_dir) if cache_dir else None

    # ------------------------------------------------------------- query

    def query(
        self,
        sql: str,
        limit: int | None = None,
        dry_run: bool = False,
        use_cache: bool = False,
        timeout_s: float | None = None,
        timezone: str | None = None,
    ) -> dict | None:
        """``timezone`` is the per-request zone (reference
        ``x-wren-timezone`` header): tz-aware expressions evaluate under
        it (engine.sql plans in a session of that zone) and TIMESTAMP
        (instant) result columns are rendered as that zone's wall clock
        — the formatter parity of ibis-server/app/util.py:149-190, whose
        ``tz_convert`` + offset-free strftime does the same."""
        if dry_run:
            self.engine.dry_run(sql)
            return None
        # a deploy is also a data snapshot: its id keys every entry
        key = (f"{self.engine.deploy_id}|{sql}|{limit}|{timezone}"
               f"|{sorted(self.engine.properties.items())}")
        if use_cache and self.cache:
            hit = self.cache.get(key)
            if hit is not None:
                return {**hit, "cached": True}
        df = self.engine.sql(sql, timezone=timezone)
        if timezone is not None:
            df = _render_timestamps_in_zone(df, timezone)
        if limit is not None:
            # applied to the frame, not the text (reference: min of the
            # existing and requested limit, context.rs:271 +
            # util.py:234-236): composing df.limit with a LIMIT in the
            # SQL yields the min, and text edge cases (trailing
            # comments, OFFSET) cannot break it
            df = df.limit(limit)
        out = to_json(df, rows=collect_with_timeout(df, timeout_s))
        if use_cache and self.cache:
            self.cache.set(out, key)
        return out

    def dry_plan(self, sql: str, dialect: str | None = None) -> str:
        return self.engine.dry_plan(sql, dialect=dialect)

    def analyze(self, sql: str) -> dict:
        """Decision-point analysis of a SQL against the deployed semantic
        layer (reference ``GET /v2/analysis/sql``,
        ibis-server/app/routers/v2/analysis.py:9-16 / app/mdl/analyzer.py):
        which models the query touches, which of their columns resolve,
        which calculated fields expand (and across which relationship
        paths), and the physical source behind each model."""
        from wren_engine_spark.mdl.lineage import extract_paths
        from wren_engine_spark.plans.sqltext import identifiers

        idents = identifiers(sql)
        out: list[dict] = []
        for model in self.engine.manifest.models:
            if model.name.lower() not in idents:
                continue
            used_cols = [
                c.name
                for c in model.columns
                if not c.is_hidden and not c.is_relationship
                and c.name.lower() in idents
            ]
            calc = []
            for c in model.calculated_columns:
                if c.name not in used_cols:
                    continue
                paths = extract_paths(model, self.engine.manifest, c.expression or "")
                calc.append(
                    {
                        "name": c.name,
                        "expression": c.expression,
                        "relationships": [
                            {"hops": p.hops, "models": p.models} for p in paths
                        ],
                    }
                )
            out.append(
                {
                    "model": model.name,
                    "source": model.table_reference or "(ref_sql)",
                    "columns": used_cols,
                    "calculated_fields": calc,
                }
            )
        return {"models": out}

    # ---------------------------------------------------------- validate

    def validate_column_is_valid(self, model: str, column: str) -> bool:
        """validate/{rule=column_is_valid} (app/model/validator.py):
        probe ``SELECT col FROM model LIMIT 1``."""
        try:
            self.engine.sql(f"SELECT `{column}` FROM `{model}` LIMIT 1").collect()
            return True
        except Exception:  # noqa: BLE001
            return False

    # ---------------------------------------------------------- metadata

    def tables(self) -> list[dict]:
        out = []
        for m in self.engine.manifest.models:
            out.append(
                {
                    "name": m.name,
                    "primaryKey": m.primary_key,
                    "columns": [
                        {"name": c.name, "type": c.type, "calculated": c.is_calculated}
                        for c in m.columns
                        if not c.is_relationship and not c.is_hidden
                    ],
                }
            )
        return out

    def relationships(self) -> list[dict]:
        return [
            {"name": r.name, "models": r.models, "joinType": r.join_type,
             "condition": r.condition}
            for r in self.engine.manifest.relationships
        ]

    def functions(self) -> list[dict]:
        return [f.to_dict() for f in self.catalog.list_functions()]

    def function(self, name: str) -> dict | None:
        spec = self.catalog.describe(name)
        return spec.to_dict() if spec else None

    def constraints(self) -> list[dict]:
        """Constraint metadata (reference get_constraints shape:
        ibis-server/app/model/metadata/dto.py Constraint): primary keys
        from the manifest plus FOREIGN-KEY-style rows derived from
        relationship conditions."""
        out = []
        for m in self.engine.manifest.models:
            if m.primary_key:
                out.append(
                    {
                        "constraintName": f"{m.name}_pkey",
                        "constraintType": "PRIMARY KEY",
                        "constraintTable": m.name,
                        "constraintColumn": m.primary_key,
                        "constraintedTable": m.name,
                        "constraintedColumn": m.primary_key,
                    }
                )
        for r in self.engine.manifest.relationships:
            m_ = re.match(
                r"\s*\"?(\w+)\"?\.\"?(\w+)\"?\s*=\s*\"?(\w+)\"?\.\"?(\w+)\"?\s*",
                r.condition or "",
            )
            if not m_:
                continue
            lt, lc, rt, rc = m_.groups()
            out.append(
                {
                    "constraintName": r.name,
                    "constraintType": "FOREIGN KEY",
                    "constraintTable": lt,
                    "constraintColumn": lc,
                    "constraintedTable": rt,
                    "constraintedColumn": rc,
                }
            )
        return out

    def version(self) -> str:
        """Backend version string (reference get_version metadata op)."""
        return f"spark {self.engine.spark.version}"

    def knowledge(self) -> dict:
        """Text-to-SQL knowledge for agents (reference GET /{ds}/knowledge,
        ibis-server/app/mdl/knowledge.py): engine dialect rules plus the
        deployed semantic schema, so an agent can write correct SQL
        against the models without seeing physical tables."""
        models = [
            {
                "model": m.name,
                "primaryKey": m.primary_key,
                "columns": [
                    c.name
                    for c in m.columns
                    if not c.is_relationship and not c.is_hidden
                ],
            }
            for m in self.engine.manifest.models
        ]
        rules = [
            "Dialect: Spark SQL (ANSI mode). Quote identifiers with backticks.",
            "Query MODELS (listed below), never physical tables; calculated "
            "columns are already joined/aggregated for you.",
            "Dates: DATE 'YYYY-MM-DD'; timestamps are session-timezone UTC.",
            "Use LIMIT to bound result size; ORDER BY is not implied.",
            "Division by zero yields an error under ANSI mode; use "
            "try_divide for nullable division.",
        ]
        return {"rules": rules, "schema": {"models": models,
                                           "relationships": self.relationships()}}

    # --------------------------------------------------- model substitute

    def model_substitute(self, sql: str) -> str:
        """Rewrite physical table references into model references
        (reference ibis-server/app/mdl/substitute.py:14-126)."""
        out = sql
        for m in self.engine.manifest.models:
            if not m.table_reference:
                continue
            short = m.table_reference.split(".")[-1]
            out = re.sub(
                rf"(?<![\w`.]){re.escape(m.table_reference)}(?![\w`])",
                f"`{m.name}`",
                out,
            )
            if short != m.table_reference:
                out = re.sub(
                    rf"(?<![\w`.]){re.escape(short)}(?![\w`])", f"`{m.name}`", out
                )
        return out


def create_app(service: SemanticService):
    """FastAPI façade (optional — fastapi absent in the base image)."""
    try:
        from fastapi import FastAPI, Header, HTTPException
    except ImportError as e:  # pragma: no cover
        raise RuntimeError("fastapi is not installed; use SemanticService directly") from e

    app = FastAPI(title="wren-engine-spark")

    @app.post("/v3/connector/spark/query")
    def query(body: dict, x_wren_timezone: str | None = Header(default=None)):
        try:
            return service.query(
                body["sql"],
                limit=body.get("limit"),
                dry_run=bool(body.get("dryRun")),
                use_cache=bool(body.get("cacheEnable")),
                timeout_s=body.get("timeoutSeconds"),
                timezone=x_wren_timezone or body.get("timezone"),
            )
        except QueryTimeoutError as e:
            raise HTTPException(status_code=504, detail=str(e)) from e
        except Exception as e:  # noqa: BLE001
            raise HTTPException(status_code=422, detail=str(e)) from e

    @app.post("/v3/connector/spark/dry-plan")
    def dry_plan(body: dict):
        return {"sql": service.dry_plan(body["sql"], dialect=body.get("dialect"))}

    @app.post("/v3/connector/spark/validate/column_is_valid")
    def validate(body: dict):
        ok = service.validate_column_is_valid(
            body["parameters"]["modelName"], body["parameters"]["columnName"]
        )
        if not ok:
            raise HTTPException(status_code=422, detail="column is not valid")
        return {}

    @app.get("/v3/connector/spark/functions")
    def functions():
        return service.functions()

    @app.post("/v3/connector/spark/model-substitute")
    def model_substitute(body: dict):
        return {"sql": service.model_substitute(body["sql"])}

    @app.get("/v3/connector/spark/function/{name}")
    def function(name: str):
        spec = service.function(name)
        if spec is None:
            raise HTTPException(status_code=404, detail=f"function {name} not found")
        return spec

    @app.get("/v3/connector/spark/metadata/tables")
    def tables():
        return service.tables()

    @app.get("/v3/connector/spark/metadata/relationships")
    def relationships():
        return service.relationships()

    @app.get("/v3/connector/spark/metadata/constraints")
    def constraints():
        return service.constraints()

    @app.get("/v3/connector/spark/metadata/version")
    def version():
        return {"version": service.version()}

    @app.get("/v3/connector/spark/knowledge")
    def knowledge():
        return service.knowledge()

    @app.post("/v2/analysis/sql")
    def analysis(body: dict):
        return service.analyze(body["sql"])

    return app
