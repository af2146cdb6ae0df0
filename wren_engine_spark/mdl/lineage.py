"""Expression lineage for calculated fields.

The reference builds a per-column dataset DAG (petgraph) to drive join
order and detect cycles (wren-core/core/src/mdl/lineage.rs:19-280; cycle
check at analyze/plan.rs:322-326). Here the same information is derived
with a lightweight tokenizer: a calculated expression like

    sum("Order_items"."Price")            -- to-many aggregate
    "Customers"."State"                   -- to-one inline
    "Orders"."Customers"."State"          -- multi-hop

is decomposed into relationship *paths* (chains of relationship-column
hops ending at a terminal column). Expansion is **iterative** (worklist),
never recursive — the reference's own disabled tests document a
stack-overflow on nested calc-on-calc (sqllogictest/src/test_context.rs:
176-200 TODOs), so we resolve calc-references level by level with an
explicit cycle check instead.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from wren_engine_spark.mdl.manifest import Column, Manifest, Model

# dotted identifier chain: "A"."B" or A.B or mixed; at least 2 segments
_CHAIN = re.compile(r'(?:"[^"]+"|[A-Za-z_][A-Za-z0-9_]*)(?:\s*\.\s*(?:"[^"]+"|[A-Za-z_][A-Za-z0-9_]*))+')
_SEG = re.compile(r'"[^"]+"|[A-Za-z_][A-Za-z0-9_]*')

# aggregate detection, mirroring find_aggregate_exprs usage at
# analyze/plan.rs:447-449
_AGG_FNS = (
    "sum|count|avg|mean|min|max|median|stddev|stddev_pop|stddev_samp|variance|"
    "var_pop|var_samp|array_agg|string_agg|bool_and|bool_or|every|any_value|"
    "approx_distinct|approx_count_distinct|first|last|corr|covar_pop|covar_samp"
)
_AGG_RE = re.compile(rf"\b(?:{_AGG_FNS})\s*\(", re.IGNORECASE)


def _segments(chain: str) -> list[str]:
    return [s[1:-1] if s.startswith('"') else s for s in _SEG.findall(chain)]


@dataclass
class RelPath:
    """One relationship traversal found in an expression."""

    raw: str                      # the matched text, for substitution
    hops: list[str]               # relationship-column names, in order
    terminal: str                 # column name on the final model
    models: list[str] = field(default_factory=list)  # model per hop target


class LineageError(ValueError):
    pass


def is_aggregate_expression(expr: str) -> bool:
    return bool(_AGG_RE.search(expr))


def extract_paths(model: Model, manifest: Manifest, expr: str) -> list[RelPath]:
    """Find relationship paths in ``expr`` relative to ``model``.

    A dotted chain is a relationship path iff its first segment names a
    relationship column of ``model``. Each subsequent segment must be a
    relationship column of the hop-target model, except the last, which
    is a terminal (physical or calculated) column.
    """
    paths: list[RelPath] = []
    for m in _CHAIN.finditer(expr):
        segs = _segments(m.group(0))
        first = model.column(segs[0])
        if first is None or not first.is_relationship:
            continue  # plain qualified column, not a relationship path
        hops: list[str] = []
        models: list[str] = []
        cur = model
        ok = True
        for i, seg in enumerate(segs[:-1]):
            col = cur.column(seg)
            if col is None or not col.is_relationship:
                ok = False
                break
            rel = manifest.relationship(col.relationship)
            if rel is None:
                raise LineageError(
                    f"model {cur.name}: column {seg} references unknown relationship "
                    f"{col.relationship!r}"
                )
            target_name = rel.other_model(cur.name)
            target = manifest.model(target_name)
            if target is None:
                raise LineageError(f"relationship {rel.name}: unknown model {target_name}")
            hops.append(col.name)
            models.append(target.name)
            cur = target
        if not ok or not hops:
            continue
        terminal = segs[-1]
        if cur.column(terminal) is None:
            raise LineageError(
                f"calculated field path {m.group(0)!r}: model {cur.name} has no column "
                f"{terminal!r}"
            )
        paths.append(RelPath(raw=m.group(0), hops=hops, terminal=terminal, models=models))
    return paths


def check_cycles(manifest: Manifest) -> None:
    """Detect calc-on-calc cycles across models (plan.rs:322-326 parity).

    Builds edges (model.column) -> (model.column) for every calculated
    column whose path terminal is itself calculated, then runs an
    iterative DFS cycle check.
    """
    edges: dict[tuple[str, str], list[tuple[str, str]]] = {}
    for model in manifest.models:
        for col in model.calculated_columns:
            key = (model.name.lower(), col.name.lower())
            deps: list[tuple[str, str]] = []
            for p in extract_paths(model, manifest, col.expression or ""):
                tgt_model = manifest.model(p.models[-1])
                tcol = tgt_model.column(p.terminal)
                if tcol is not None and tcol.is_calculated:
                    deps.append((tgt_model.name.lower(), tcol.name.lower()))
            edges[key] = deps
    WHITE, GRAY, BLACK = 0, 1, 2
    color: dict[tuple[str, str], int] = {k: WHITE for k in edges}
    for start in edges:
        if color[start] != WHITE:
            continue
        stack: list[tuple[tuple[str, str], int]] = [(start, 0)]
        color[start] = GRAY
        while stack:
            node, idx = stack[-1]
            deps = edges.get(node, [])
            if idx < len(deps):
                stack[-1] = (node, idx + 1)
                nxt = deps[idx]
                c = color.get(nxt, BLACK)
                if c == GRAY:
                    raise LineageError(f"calculated-field cycle involving {nxt[0]}.{nxt[1]}")
                if c == WHITE:
                    color[nxt] = GRAY
                    stack.append((nxt, 0))
            else:
                color[node] = BLACK
                stack.pop()
