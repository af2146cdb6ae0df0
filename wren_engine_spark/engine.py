"""SemanticEngine: MDL manifest -> one planned SQL text -> Spark.

This is the Spark-first rebuild of the reference's planning pipeline
(SURVEY.md §0, §2.A). As in the reference's CTE rewriter (PAPER.md §0
steps 3-6; wren/src/wren/mdl/cte_rewriter.py), a query is planned once,
into SQL text: ``plans/cte_rewriter.py`` makes each model, view and cube
the query references a CTE, with expression columns, RLS, CLAC, hidden
columns and only the referenced calculated fields applied. That text
then runs through Catalyst — predicate pushdown, column pruning, join
planning, AQE all apply to the *expanded* plan (the reference had to
disable most optimizer rules for unparse fidelity, context.rs:229-275;
we keep them all). A cube drill is one more such text.

``deploy`` registers, once per deploy:
  - each model's physical source as an engine-private temp view, the
    FROM leaf of the executed text. ``dry_plan`` returns the same text
    with standalone scans (``parquet.`path```) as leaves instead;
  - each model (every field), view and cube as a temp view, so
    ``spark.table(model)`` works;
  - for each model and cube that qualifies (small, or marked
    ``cached``, and answering the same in every zone and at every
    call), its full rows, cached, as one more engine-private view. The
    CTE in the executed text reads from it, so a request pays no source
    scan, RLS filter, relationship join or cube aggregation for it (the
    reference's ``cached`` hint, manifest-macro/src/lib.rs:141-168).
    A ``cached`` one whose rows depend on the zone only has its temp
    view cached, as a plan of another zone never matches that cache.

A request registers nothing, writes no session conf and leaves no frame
behind in the engine: ``sql`` rewrites, then analyzes, in the deployed
session or, for a request timezone, in a per-zone clone of it.

Scale notes (100 TB design): every to-one dimension join is eligible for
broadcast (dims are small by construction); to-many pre-aggregation is a
map-side-combinable groupBy on the foreign key — the shuffle it needs is
on the same key as the subsequent join, so Catalyst reuses the exchange.
Deploy runs one Spark job per cached model or cube, which reads its
rows; all else it registers is lazy metadata, and the size check reads
plan statistics. The rows are kept until the next ``deploy`` reads them
afresh. One whose rows fail at run time (a calc that raises) stays
inline, so a request that does not name that calc still answers.
"""

from __future__ import annotations

import hashlib
import re
import threading
import uuid
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

from wren_engine_spark.mdl.lineage import check_cycles
from wren_engine_spark.mdl.manifest import Manifest, Model, quote_ident
from wren_engine_spark.plans.cte_rewriter import (
    AccessControlError,
    CteRewriter,
    PlanError,
    _clac_allows,
    bq,
    cube_body,
)
from wren_engine_spark.plans.sqltext import identifiers
from wren_engine_spark.sources.registry import SourceRegistry

def _register_temp_view(spark: SparkSession, df: DataFrame, name: str) -> None:
    """Register a temp view accepting ANY model/view name the reference
    accepts (it is case-sensitive and quote-aware — context.rs:60-63;
    unicode/spaced names exercised by mod.rs:823,1851,3448). Spark's
    ``createOrReplaceTempView`` validates the name as a bare identifier,
    so non-identifier names go through a mangled physical view plus a
    backtick-quoted SQL alias view."""
    try:
        df.createOrReplaceTempView(name)
    except Exception:  # noqa: BLE001 - non-identifier name
        safe = "__wren_src_" + hashlib.md5(name.encode()).hexdigest()[:12]
        df.createOrReplaceTempView(safe)
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {quote_ident(name)} "
            f"AS SELECT * FROM {safe}"
        )


def _convert_java_exception(e: Exception) -> Exception:
    """Map a raw py4j Java exception to the standard PySpark exception
    type (AnalysisException etc.), so the direct JVM ``sql`` call in
    ``SemanticEngine.sql`` surfaces the same errors as ``spark.sql``."""
    try:
        from py4j.protocol import Py4JJavaError
        from pyspark.errors.exceptions.captured import convert_exception
    except ImportError:  # pragma: no cover
        return e
    if isinstance(e, Py4JJavaError):
        try:
            return convert_exception(e.java_exception)
        except Exception:  # noqa: BLE001 - fall back to the raw error
            return e
    return e


_TZ_OFFSET = re.compile(r"^[+-]\d{2}:\d{2}$")

# Zone sessions kept per engine; past it the least recently used go first.
_ZONE_SESSIONS_MAX = 32


def _validate_timezone(tz: str) -> None:
    """Accept IANA zone names (zoneinfo) and fixed ``+HH:MM`` offsets —
    the forms the reference's ``x-wren-timezone`` header takes. Rejecting
    junk here keeps a bad header from cloning a session."""
    if _TZ_OFFSET.match(tz) or tz.upper() == "UTC":
        return
    import zoneinfo

    try:
        zoneinfo.ZoneInfo(tz)
    except Exception as e:  # noqa: BLE001
        raise PlanError(f"invalid timezone {tz!r}") from e


class SemanticEngine:
    """Deploys an MDL manifest onto a SparkSession and answers SQL.

    Usage::

        eng = SemanticEngine(spark, manifest, sources)
        eng.deploy(properties={"session_level": "5000"})
        df = eng.sql('SELECT customer_name, total_spent FROM customer_m')
    """

    def __init__(self, spark: SparkSession, manifest: Manifest, sources: SourceRegistry):
        self.spark = spark
        self.manifest = manifest
        self.sources = sources
        self.properties: dict[str, str] = {}
        # guards the zone-session map only: the service layer may call
        # sql() from multiple threads; analysis runs outside it
        self._sql_lock = threading.Lock()
        self._zone_sessions: OrderedDict[str, SparkSession] = OrderedDict()
        # the model and cube frames the last deploy cached
        self._frames: list[DataFrame] = []
        # keys the query cache: a fresh token per deploy
        self.deploy_id = ""
        check_cycles(manifest)

    # ------------------------------------------------------------------ deploy

    def deploy(self, properties: dict[str, str] | None = None) -> "SemanticEngine":
        """Register each model's source, then every model, view and cube,
        as temp views, and build the planners for ``sql`` and
        ``dry_plan``. Each model and cube ``_caches`` picks has its full
        rows computed here, once, and ``sql`` reads them when they do
        not depend on the zone. A redeploy first drops the previous
        deploy's cached frames, so it reads the rows afresh: it is the
        refresh of models and cubes alike. Access-control and planning
        errors (a missing RLS property, an unsupported calculated field,
        a view cycle) raise here."""
        from wren_engine_spark.functions.compat import register_compat_functions

        register_compat_functions(self.spark)
        self.properties = {k.lower(): str(v) for k, v in (properties or {}).items()}
        # the query cache never answers from an older deploy
        self.deploy_id = uuid.uuid4().hex
        # a zone session is a snapshot of the deployed views
        with self._sql_lock:
            self._zone_sessions.clear()
        # replacing a view whose plan is unchanged keeps its cache, so
        # the previous deploy's frames are dropped here
        for df in self._frames:
            df.unpersist()
        self._frames = []
        models = self.manifest.models
        # id(self) keeps the names apart from every other live engine's
        leaves = {m.name: f"__wren_model_src_{id(self):x}_{i}" for i, m in enumerate(models)}
        self._planner = CteRewriter(self.manifest, self.properties, leaves)
        self._dry_planner = CteRewriter(
            self.manifest,
            self.properties,
            {m.name: self.sources.resolve_sql(m.table_reference)
             for m in models if m.table_reference},
        )
        for model in models:
            _register_temp_view(self.spark, self._source_df(model), leaves[model.name])
        # any zone other than the deployed one, for _zone_free
        zone = self.spark.conf.get("spark.sql.session.timeZone")
        probe = self.spark._jsparkSession.cloneSession()
        probe.conf().set("spark.sql.session.timeZone", "Asia/Tokyo" if zone == "UTC" else "UTC")
        # every text is planned before anything is materialized, so it
        # reads only the source views, which the probe has too
        texts = {m.name: (self._planner.model_sql(m), m.cached) for m in models}
        for cube in self.manifest.cubes:
            body = cube_body(cube.name)
            texts[body] = (self._planner.rewrite(f"SELECT * FROM {bq(body)}"), cube.cached)
        for i, (name, (text, cached)) in enumerate(texts.items()):
            df = self.spark.sql(text)
            if self._caches(cached, df):
                zone_free = self._zone_free(text, df, probe)
                if (zone_free or cached) and self._compute(df):
                    if zone_free:
                        view = f"__wren_mat_{id(self):x}_{i}"
                        df.createOrReplaceTempView(view)
                        self._planner.materialized[name.lower()] = view
            _register_temp_view(self.spark, df, name)
        # views and public cubes read the names registered before them
        for v in self._planner.views:
            if v.view.name not in texts:
                _register_temp_view(self.spark, self.spark.sql(v.text), v.view.name)
        return self

    def _caches(self, cached: bool, df: DataFrame) -> bool:
        """Whether ``df``, the full rows of a model or cube, may be
        cached. It must be marked ``cached`` or be small: the sizes its
        optimized plan's leaves report sum to at most
        ``spark.sql.autoBroadcastJoinThreshold`` (reading statistics
        runs no job; a source of unknown size reports Long.MaxValue).
        And its rows must not depend on the time of the call: the
        analyzed plan is deterministic and holds no current-time node
        (current_timestamp, current_date, localtimestamp,
        current_timezone)."""
        qe = df._jdf.queryExecution()
        if not cached:
            bound = self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
            leaves = qe.optimizedPlan().collectLeaves()
            size = sum(int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size()))
            if size > bound:
                return False
        plan = qe.analyzed()
        patterns = self.spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        return plan.deterministic() and not plan.containsPattern(patterns.CURRENT_LIKE())

    @staticmethod
    def _zone_free(text: str, df: DataFrame, probe) -> bool:
        """Whether ``df``, analyzed from ``text``, has the same result as
        ``text`` analyzed in ``probe``, a session of another zone: a
        zone-aware cast or datetime function keeps its zone in the
        plan."""
        analyzed = df._jdf.queryExecution().analyzed()
        return analyzed.sameResult(probe.sql(text).queryExecution().analyzed())

    def _compute(self, df: DataFrame) -> bool:
        """Cache ``df`` and compute it now. On a run-time error (a calc
        that raises, an ANSI cast) drop the cache and return False: the
        model or cube stays inline, where a request computes only the
        calcs it names."""
        # drop a frame of the same plan, another engine's too, so the
        # rows are read afresh
        df.unpersist()
        df.cache()
        try:
            df.count()
        except Exception:  # noqa: BLE001 - any run-time failure
            df.unpersist()
            return False
        self._frames.append(df)
        return True

    def sql(self, sql: str, timezone: str | None = None) -> DataFrame:
        """Run user SQL against the deployed semantic layer: plan it into
        one text with the CTE rewriter (models and views as CTEs, only
        the referenced calculated fields attached, so unused joins and
        pre-aggregations never enter the plan) and analyze that text.
        Nothing is registered on the session, and the engine keeps no
        reference to the returned frame: repeated results are the query
        cache's job (``serving.QueryCache``).

        ``timezone`` evaluates THIS query under the given session zone
        (reference: per-request ``x-wren-timezone`` header,
        ibis-server/app/mdl/rewriter.py:176-186 /
        wren-core/core/src/mdl/context.rs:50-75). The text is analyzed in
        a session of that zone (``_session``), so the returned frame and
        every frame derived from it analyze, optimize and run under the
        zone; the deployed session's conf is never written.
        """
        session = self._session(timezone)
        text = self._planner.rewrite(sql)
        try:
            # direct JVM-session call: the PySpark sql() wrapper costs
            # several extra py4j round trips (~2x planning latency); the
            # DataFrame constructor below is pure-Python. Java exceptions
            # are converted to the standard PySpark types in the except
            # path so callers see identical errors.
            return DataFrame(session._jsparkSession.sql(text), session)
        except Exception as e:
            conv = _convert_java_exception(e)
            # PermissionAnalyze: turn UNRESOLVED_COLUMN on a CLAC-hidden
            # column into a clean permission error — but ONLY for
            # unresolved-column analysis failures, so unrelated errors
            # (syntax, runtime) are never masked as permission denials
            msg = str(conv)
            if "UNRESOLVED_COLUMN" in msg or "cannot be resolved" in msg:
                # Spark quotes multi-part names per part (`M`.`state`),
                # so collect every backticked token — any of them may be
                # the denied column
                toks = re.findall(r"`([^`]+)`", msg)
                self.analyze_permissions(sql, unresolved=toks or None)
            if conv is e:
                raise
            raise conv from None

    def _session(self, timezone: str | None) -> SparkSession:
        """The session that plans a request in ``timezone``: the deployed
        session for None, else its clone with that session zone, made
        once per zone (the reference plans in a session configured with
        the zone, context.rs:50-75). A clone carries the deployed temp
        views and SQL functions and shares the cache manager, so cached
        models and cubes still hit."""
        if timezone is None:
            return self.spark
        _validate_timezone(timezone)
        with self._sql_lock:
            session = self._zone_sessions.get(timezone)
            if session is None:
                # cloneSession is private[sql] in Scala but public to py4j
                session = SparkSession(
                    self.spark.sparkContext, self.spark._jsparkSession.cloneSession()
                )
                session.conf.set("spark.sql.session.timeZone", timezone)
                self._zone_sessions[timezone] = session
                if len(self._zone_sessions) > _ZONE_SESSIONS_MAX:
                    self._zone_sessions.popitem(last=False)
            self._zone_sessions.move_to_end(timezone)
            return session

    def analyze_permissions(
        self, sql: str, unresolved: str | list[str] | None = None
    ) -> None:
        """PermissionAnalyze pass (access_control.rs:290-399 error path,
        mod.rs:543-592): when a query fails, distinguish "column denied
        by CLAC under the current session properties" from a plain
        unknown column, and raise a clean AccessControlError naming the
        denied columns instead of Spark's UNRESOLVED_COLUMN.

        Matching is identifier-token based (string literals excluded), so
        a denied column name appearing only inside a literal is never
        reported. When ``unresolved`` carries the identifier token(s)
        from the analysis error (Spark quotes multi-part names per part),
        only denied columns matching one of them are attributed — a
        different unresolved column is not misreported as a denial."""
        idents = identifiers(sql)
        if unresolved is None:
            unres: set[str] | None = None
        else:
            toks = [unresolved] if isinstance(unresolved, str) else unresolved
            unres = {p.lower() for t in toks for p in t.split(".")}
        denied: list[str] = []
        for model in self.manifest.models:
            if model.name.lower() not in idents:
                continue
            for c in model.columns:
                if c.column_level_access_control is None:
                    continue
                if _clac_allows(c.column_level_access_control, self.properties):
                    continue
                if unres is not None and c.name.lower() not in unres:
                    continue
                if c.name.lower() in idents:
                    denied.append(f"{model.name}.{c.name}")
        if denied:
            raise AccessControlError(
                "column access denied by column-level access control: "
                + ", ".join(sorted(denied))
            )

    def dry_run(self, sql: str) -> None:
        """Analyze-only (reference dryRun flag): raises on invalid SQL or
        access-control violations, moves no data."""
        self.sql(sql).schema  # Catalyst analysis is triggered by .schema

    def dry_plan(self, sql: str, dialect: str | None = None) -> str:
        """Expanded standalone SQL text for the query (reference
        /dry-plan endpoint, v3/connector.py:250-341): the text ``sql``
        executes, with each model's FROM leaf a standalone scan
        (``SourceRegistry.resolve_sql``) instead of its source view.

        ``dialect`` renders the text for another engine (reference
        transpile: ibis-server/app/mdl/rewriter.py:90-104) — 'duckdb',
        'postgres', 'ansi', or None/'spark' for Spark SQL."""
        from wren_engine_spark.plans.dialect import render

        return render(self._dry_planner.rewrite(sql), dialect)

    def _source_df(self, model: Model) -> DataFrame:
        if model.ref_sql:
            return self.spark.sql(self._planner.strip_ns(model.ref_sql))
        return self.sources.resolve(model.table_reference)

    # ----------------------------------------------------------------- cubes

    def cube_drill(
        self,
        name: str,
        hierarchy: str | None = None,
        level: str | None = None,
    ) -> DataFrame:
        """Answer a coarser-grain query THROUGH a cube: run the text of
        ``CteRewriter.drill_sql``, which re-aggregates the cube's body up
        ``hierarchy`` to ``level`` (reference cube hierarchies:
        manifest-macro/src/lib.rs:352-385). The drill of a cached cube
        scans its cached body, not the base table, and ``dry_plan`` of
        the same text stands alone."""
        return self.sql(self._planner.drill_sql(name, hierarchy, level))
