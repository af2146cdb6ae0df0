"""The ``agent`` serving workload.

One client drives ``SemanticService`` in a closed loop (it waits for
each reply before sending the next request) over seeded scale-0.01
tables in the run's temp dir. Every SQL text is unique (seeded
literals, calculated-field subsets, joins, a timezone header on a
share), mixed with dry-plan, dry-run and large-result preview requests,
so every request plans from scratch, formats its own result, and writes
rather than reads the query cache.

Correctness is checked after the window: a seeded sample of responses
is re-answered in DuckDB from the service's own
``dry_plan(sql, dialect="duckdb")`` text, over the same parquet files.
"""

from __future__ import annotations

import datetime
import json
import math
import time
import zoneinfo
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from decimal import Decimal
from typing import Any

import numpy as np

from perfbench import gen, stats
from perfbench.core import Context, Result
from perfbench.trace import Target, Tracer, layer_self_seconds

AGENT_SF = 0.01
# Untimed warm-up before the window: four cycles sent three at a time
# (the JIT warms in fewer seconds than one client takes), then one cycle
# from one client, so the window does not open on the slower first
# sequential cycle that follows concurrent load.
WARMUP_CONCURRENT = 4 * gen.AGENT_CYCLE
AGENT_WARMUP = WARMUP_CONCURRENT + gen.AGENT_CYCLE
WARMUP_THREADS = 3
AGENT_CHECK_SHARE = 0.5


# ------------------------------------------------------------ result checks


def _zone(tz: str) -> datetime.tzinfo:
    if tz == "UTC":
        return datetime.timezone.utc
    if tz[0] in "+-":
        sign = 1 if tz[0] == "+" else -1
        h, m = tz[1:].split(":")
        return datetime.timezone(sign * datetime.timedelta(hours=int(h), minutes=int(m)))
    return zoneinfo.ZoneInfo(tz)


# DuckDB takes IANA zone names only; the same wall clock for an offset
DUCKDB_ZONES = {"+05:30": "Asia/Kolkata"}


def format_cell(v: Any, tz: str | None = None) -> Any:
    """An oracle value in the service's JSON envelope form: decimals as
    floats, dates ``%Y-%m-%d``, timestamps ``%Y-%m-%d %H:%M:%S.%f``.
    An instant (a zone-aware value, read from an instant column) is shown
    as the wall clock of the request's zone, UTC without one; a local
    timestamp is shown as it is."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_zone(tz or "UTC")).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return v


def _same_cell(a: Any, b: Any) -> bool:
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got: list[list], want: list[list]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same_cell(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def duckdb_over(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name in gen.table_sizes(1):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
        )
    return con


# ------------------------------------------------------------- the service


def deploy(spark, data_dir: str, cache_dir: str, manifest: dict):
    """The serving set-up: source registry, manifest load, engine
    deploy, service."""
    from wren_engine_spark.engine import SemanticEngine
    from wren_engine_spark.mdl.manifest import Manifest
    from wren_engine_spark.serving import SemanticService
    from wren_engine_spark.sources.registry import SourceRegistry

    sources = SourceRegistry(spark).add_directory(data_dir)
    eng = SemanticEngine(spark, Manifest.from_dict(manifest), sources)
    eng.deploy()
    return SemanticService(eng, cache_dir=cache_dir)


def send(svc, req: gen.Request):
    if req.kind in ("query", "preview"):
        return svc.query(req.sql, use_cache=req.use_cache, timezone=req.timezone)
    if req.kind == "dry_run":
        return svc.query(req.sql, dry_run=True)
    if req.kind == "dry_plan":
        return svc.dry_plan(req.sql, dialect=req.dialect)
    raise ValueError(req.kind)


@dataclass
class Record:
    index: int
    req: gen.Request
    op: int
    latency_s: float
    end: float  # perf_counter at the reply
    ok: bool
    response: Any = None
    error: str | None = None


def closed_loop(svc, schedule: list[gen.Request], cycle: int, seconds: float,
                outcomes: stats.Outcomes, keep, tracer: Tracer | None,
                sc=None) -> tuple[list[Record], float]:
    """Send the schedule's requests one after another, each after the
    previous reply. After ``seconds`` no new schedule cycle starts, so
    the window holds whole cycles (the same request mix for every seed).
    Returns the records and the window's start (perf_counter)."""
    records: list[Record] = []
    start = time.perf_counter()
    for i, req in enumerate(schedule):
        if i % cycle == 0 and time.perf_counter() >= start + seconds:
            return records, start
        op = outcomes.attempt()
        rid = f"r{i}"
        if sc is not None:
            sc.setJobGroup(rid, "perfbench request")
        t = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.request(rid):
                    out = send(svc, req)
            else:
                out = send(svc, req)
            now = time.perf_counter()
            records.append(Record(i, req, op, now - t, now, True,
                                  out if keep(i, req) else None))
        except Exception as e:  # noqa: BLE001 - a failed request is a result
            now = time.perf_counter()
            records.append(Record(i, req, op, now - t, now, False,
                                  error=f"{type(e).__name__}: {e}"[:500]))
            outcomes.fail(op)
    raise RuntimeError("the schedule ran out before the window closed")


def latency_summary(records: list[Record]) -> dict[str, Any]:
    out: dict[str, Any] = {"requests": len(records)}
    by_template: dict[str, list[float]] = {}
    for r in records:
        by_template.setdefault(f"{r.req.kind}:{r.req.template}", []).append(r.latency_s * 1000)
    out["template_p50_ms"] = {k: round(stats.median(v), 1) for k, v in by_template.items()}
    cycles: dict[int, float] = {}
    for r in records:  # time per schedule cycle, to show drift within the window
        k = r.index // gen.AGENT_CYCLE
        cycles[k] = cycles.get(k, 0.0) + r.latency_s
    out["cycle_s"] = [round(v, 3) for _, v in sorted(cycles.items())]
    for kind in ("query", "preview", "dry_plan", "dry_run"):
        lat = [r.latency_s * 1000 for r in records if r.req.kind == kind and r.ok]
        if not lat:
            continue
        out[f"{kind}_n"] = len(lat)
        out[f"{kind}_p50_ms"] = stats.median(lat)
        p = stats.tail_percentile(len(lat))
        if p is not None:
            out[f"{kind}_tail_p"] = p
            out[f"{kind}_tail_ms"] = stats.percentile(lat, p)
    return out


# ---------------------------------------------------------------- tracing


def serving_targets(tracer: Tracer) -> list[Target]:
    from pyspark.sql.classic.dataframe import DataFrame

    from wren_engine_spark import engine, serving
    from wren_engine_spark.functions import compat
    from wren_engine_spark.mdl import lineage, manifest
    from wren_engine_spark.plans import cte_rewriter, dialect, sqltext
    from wren_engine_spark.sources import registry

    seen: dict[int, Any] = {}

    def plan_cache_probe(df):
        # a hit returns the very DataFrame object an earlier call returned
        hit = seen.get(id(df)) is df
        seen[id(df)] = df
        tracer.count("engine.sql_hits" if hit else "engine.sql_misses")
        return df

    def envelope_probe(out):
        if out is not None:
            tracer.count("serving.rows_out", len(out["data"]))
            tracer.count("serving.bytes_out", len(json.dumps(out, default=str)))
        return out

    def cache_probe(df):
        tracer.count("serving.cache_hits" if df is not None else "serving.cache_misses")
        return df

    return [
        Target(manifest.Manifest, "from_dict", "mdl.from_dict", "mdl"),
        Target(lineage, "check_cycles", "mdl.check_cycles", "mdl"),
        Target(engine.SemanticEngine, "deploy", "engine.deploy", "engine"),
        Target(engine.SemanticEngine, "sql", "engine.sql", "engine", after=plan_cache_probe),
        Target(engine.SemanticEngine, "dry_run", "engine.dry_run", "engine"),
        Target(engine.SemanticEngine, "dry_plan", "engine.dry_plan", "engine"),
        Target(engine, "_register_temp_view", "engine.register_view", "engine"),
        Target(compat, "register_compat_functions", "functions.register", "functions"),
        Target(registry.SourceRegistry, "resolve", "sources.resolve", "sources"),
        Target(registry.SourceRegistry, "resolve_sql", "sources.resolve_sql", "sources"),
        Target(sqltext, "lex", "plans.lex", "plans"),
        Target(cte_rewriter.CteRewriter, "rewrite", "plans.rewrite", "plans"),
        Target(dialect, "render", "plans.render", "plans"),
        Target(serving.SemanticService, "query", "serving.query", "serving",
               after=envelope_probe),
        Target(serving.SemanticService, "dry_plan", "serving.dry_plan", "serving"),
        Target(serving, "to_json", "serving.to_json", "serving"),
        Target(serving, "collect_with_timeout", "serving.collect_with_timeout", "serving"),
        Target(serving.QueryCache, "get", "serving.cache_get", "serving", after=cache_probe),
        Target(serving.QueryCache, "set", "serving.cache_set", "serving"),
        Target(DataFrame, "collect", "spark.collect", "spark"),
        Target(DataFrame, "count", "spark.count", "spark"),
    ]


def _ms(spans) -> list[float]:
    return [(s.end - s.start) * 1000 for s in spans]


def _p50(values: list[float]) -> float:
    return stats.median(values) if values else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def serving_layer_metrics(tracer: Tracer, warmup_open: float, window_open: float,
                          records: list[Record], jobs: dict[str, int]) -> dict[str, float]:
    setup = [s for s in tracer.spans if s.end <= warmup_open]  # the deploy
    win = [s for s in tracer.spans if s.start >= window_open]

    def named(spans, name):
        return [s for s in spans if s.name == name]

    def total(spans, *names):
        return sum(sum(_ms(named(spans, n))) for n in names)

    c = tracer.counters
    queries = [r for r in records if r.req.kind in ("query", "preview") and r.ok]
    m = {
        "mdl.load_ms": total(setup, "mdl.from_dict", "mdl.check_cycles"),
        "engine.deploy_ms": total(setup, "engine.deploy"),
        "functions.register_ms": total(setup, "functions.register"),
        "sources.resolve_ms": total(setup, "sources.resolve"),
        "sources.resolve_calls": len(named(setup, "sources.resolve")),
        "engine.sql_p50_ms": _p50(_ms(named(win, "engine.sql"))),
        "engine.sql_busy_ms": total(win, "engine.sql"),
        "engine.sql_calls": len(named(win, "engine.sql")),
        "engine.plan_cache_hit_ratio": _ratio(
            c["engine.sql_hits"], c["engine.sql_hits"] + c["engine.sql_misses"]),
        "engine.view_registrations": len(named(win, "engine.register_view")),
        "engine.dry_run_ms": _p50(_ms(named(win, "engine.dry_run"))),
        "plans.lex_ms": total(win, "plans.lex"),
        "plans.lex_calls": len(named(win, "plans.lex")),
        "plans.rewrite_ms": _p50(_ms(named(win, "plans.rewrite"))),
        "plans.render_ms": _p50(_ms(named(win, "plans.render"))),
        "sources.resolve_sql_ms": total(win, "sources.resolve_sql"),
        "spark.collect_ms": total(win, "spark.collect", "spark.count"),
        "spark.jobs_per_request": _ratio(
            sum(jobs.get(f"r{r.index}", 0) for r in queries), len(queries)),
        "serving.query_ms": _p50(_ms(named(win, "serving.query"))),
        "serving.format_ms": _p50(_ms(named(win, "serving.to_json"))),
        "serving.rows_out": c["serving.rows_out"],
        "serving.bytes_out": c["serving.bytes_out"],
        "serving.cache_get_ms": _p50(_ms(named(win, "serving.cache_get"))),
        "serving.cache_set_ms": _p50(_ms(named(win, "serving.cache_set"))),
        "serving.cache_hit_ratio": _ratio(
            c["serving.cache_hits"], c["serving.cache_hits"] + c["serving.cache_misses"]),
    }
    for layer, secs in layer_self_seconds(win).items():
        m[f"self.{layer}_ms"] = secs * 1000
    return m


def _job_counts(spark, records: list[Record]) -> dict[str, int]:
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    tracker = sc.statusTracker()
    return {
        f"r{r.index}": len(tracker.getJobIdsForGroup(f"r{r.index}")) for r in records
    }


# --------------------------------------------------------------- workload


def check(svc, data_dir: str, records: list[Record]) -> list[Record]:
    """Records whose response disagrees with DuckDB running the
    service's own ``dry_plan(sql, dialect="duckdb")`` text in the
    request's zone."""
    con = duckdb_over(data_dir)
    wrong = []
    try:
        for r in records:
            text = svc.dry_plan(r.req.sql, dialect="duckdb")
            tz = r.req.timezone or "UTC"
            con.execute(f"SET TimeZone = '{DUCKDB_ZONES.get(tz, tz)}'")
            want = [[format_cell(v, tz) for v in row] for row in con.execute(text).fetchall()]
            if not same_rows(r.response["data"], want):
                wrong.append(r)
    finally:
        con.close()
    return wrong


def run_agent(ctx: Context) -> Result:
    from wren_engine_spark.queries.semantic import MANIFEST

    sched = gen.agent_schedule(ctx.seed, AGENT_WARMUP + 3000, AGENT_SF)
    warmup, schedule = sched[:AGENT_WARMUP], sched[AGENT_WARMUP:]
    rng = np.random.default_rng([ctx.seed, 5])
    sampled = {i for i, req in enumerate(schedule)
               if req.kind in ("query", "preview") and rng.random() < AGENT_CHECK_SHARE}
    data_dir = ctx.dir("data")
    gen.write_tables(gen.make_tables(ctx.seed, AGENT_SF), data_dir)

    # the traced run traces set-up too, so deploy-time layers are measured
    tracer = Tracer() if ctx.trace else None
    if tracer is not None:
        tracer.install(serving_targets(tracer))
    try:
        t = time.perf_counter()
        svc = deploy(ctx.spark, data_dir, ctx.dir("qcache"), MANIFEST)
        deploy_s = time.perf_counter() - t
        warmup_open = t = time.perf_counter()
        with ThreadPoolExecutor(max_workers=WARMUP_THREADS) as pool:
            for _ in pool.map(lambda req: send(svc, req), warmup[:WARMUP_CONCURRENT]):
                pass
        for req in warmup[WARMUP_CONCURRENT:]:
            send(svc, req)
        warmup_s = time.perf_counter() - t

        if tracer is not None:
            tracer.counters.clear()  # counts are per window; spans are split by time
        outcomes = stats.Outcomes()
        window_open = time.perf_counter()
        records, start = closed_loop(
            svc, schedule, gen.AGENT_CYCLE, ctx.seconds, outcomes,
            lambda i, req: i in sampled, tracer,
            ctx.spark.sparkContext if tracer is not None else None)
    finally:
        if tracer is not None:
            tracer.uninstall()
    # every executing SemanticService.query request: queries and previews
    lat = [r.latency_s * 1000 for r in records if r.req.kind in ("query", "preview") and r.ok]
    if not lat:
        raise RuntimeError("no successful query request in the window")
    # the window holds whole schedule cycles: requests over their span
    window_s = max(r.end for r in records) - start
    throughput = len(records) / window_s
    summary = latency_summary(records)
    detail = {"summary": summary, "window_s": window_s,
              "deploy_s": deploy_s, "warmup_s": warmup_s}
    if tracer is None:
        metrics = {"latency_p50_ms": stats.median(lat), "throughput_per_s": throughput}
    else:
        metrics = serving_layer_metrics(tracer, warmup_open, window_open, records,
                                        _job_counts(ctx.spark, records))
        metrics.update({
            "trace.latency_p50_ms": stats.median(lat),
            "trace.throughput_per_s": throughput,
            "serving.query_tail_ms": summary.get("query_tail_ms", 0.0),
            "serving.dry_plan_p50_ms": summary.get("dry_plan_p50_ms", 0.0),
            "serving.preview_p50_ms": summary.get("preview_p50_ms", 0.0),
        })
    checked = [r for r in records if r.ok and r.index in sampled]
    wrong = check(svc, data_dir, checked)
    for r in wrong:
        outcomes.fail(r.op)
    detail.update({
        "checked": len(checked),
        "checked_by_kind": dict(Counter(
            f"{r.req.kind}{'+tz' if r.req.timezone else ''}" for r in checked)),
        "errors": [r.error for r in records if r.error][:5],
        "wrong": [f"{r.req.template}: {r.req.sql[:120]}" for r in wrong][:5],
        "failed_frac": outcomes.failed_frac,
    })
    return Result(metrics, outcomes.attempted, outcomes.failed, window_open, detail, tracer)
