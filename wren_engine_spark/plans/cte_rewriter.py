"""CTE rewriter: the semantic planner. Expands an MDL manifest + user SQL
into one Spark SQL text.

Parity with the reference's CTE-based rewrite (wren/src/wren/mdl/
cte_rewriter.py:41-288; PAPER.md §0 steps 3-6): each model the query
references becomes a CTE that projects its expression columns, filters
by its RLS rules, drops hidden and CLAC-denied columns and attaches only
the calculated fields the query names. Every relationship path of a
calculated field is one LEFT-JOINed ``(__k, __v)`` subquery keyed on the
path's first hop: ``__v`` is the terminal column (to-one) or the
aggregate grouped by ``__k`` (to-many), so base cardinality never
changes (model.slt:37-44). Hop targets carry their own RLS filter.
Referenced manifest views follow as CTEs in dependency order
(expand_view.rs:35-69), and a user query's own WITH list is merged in.

A cube (manifest-macro/src/lib.rs:352-385) is two generated views in
that same order: a private full-grain body, ``SELECT <dims>, <measures>
FROM <baseObject> GROUP BY <dims>`` plus the hidden ``__<m>_sum`` /
``__<m>_cnt`` components of each AVG measure, and the public cube, which
projects the declared columns from it. ``drill_sql`` re-aggregates the
body up a hierarchy with one more text, which
``SemanticEngine.cube_drill`` answers.

``SemanticEngine.sql`` executes this text and ``SemanticEngine.dry_plan``
returns it. The two differ only in the FROM leaf of each model: for the
dry plan a standalone scan (``parquet.`path```, a catalog table) via
``source_sql``; for execution the engine's private source view, or, for
a model or cube body the engine materialized at deploy
(``materialized``), its private view of the full rows, from which the
CTE reads.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from wren_engine_spark.mdl.lineage import RelPath, extract_paths, is_aggregate_expression
from wren_engine_spark.mdl.manifest import (
    Column,
    ColumnLevelAccessControl,
    Cube,
    Manifest,
    Model,
    Relationship,
    RowLevelAccessControl,
    View,
)
from wren_engine_spark.plans.sqltext import (
    CODE,
    COMMENT,
    identifiers,
    identifiers_from_spans,
    lex,
    rewrite_outside_literals,
)


class AccessControlError(PermissionError):
    pass


class PlanError(ValueError):
    pass


_IDENT = r'(?:"[^"]+"|[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)'
_EQ_COND = re.compile(rf"^\s*({_IDENT})\s*\.\s*({_IDENT})\s*=\s*({_IDENT})\s*\.\s*({_IDENT})\s*$")
_VAR = re.compile(r"@([A-Za-z_][A-Za-z0-9_]*)")
_NUMERIC = re.compile(r"^-?\d+(\.\d+)?$")
_FORBIDDEN_RLS = re.compile(r"\b(select|insert|update|delete|union)\b|;", re.IGNORECASE)
_COUNT_STAR = re.compile(r"\bcount\s*\(\s*\*\s*\)", re.IGNORECASE)
_LEADING_WITH = re.compile(r"\s*with\b", re.IGNORECASE)
_CTE_HEAD = re.compile(
    rf"\s*(?:recursive\s+)?({_IDENT})\s*(?:\([^()]*\))?\s*as\s*\(", re.IGNORECASE
)
_CTE_SEP = re.compile(r"\s*,")
_DISTINCT = re.compile(r"\s*DISTINCT\b", re.IGNORECASE)


def bq(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sq(expr: str) -> str:
    """Double-quoted idents -> backticks (Spark parser); quote-aware —
    single-quoted string literal content is never rewritten."""
    return rewrite_outside_literals(
        expr, lambda s: re.sub(r'"([^"]+)"', r"`\1`", s)
    )


def _unq(s: str) -> str:
    if s and s[0] in '"`':
        return s[1:-1]
    return s


def _parse_equi_condition(rel: Relationship) -> tuple[str, str, str, str]:
    """Parse ``"A"."x" = "B"."y"`` -> (model_a, col_a, model_b, col_b).

    The reference requires equality conditions on relationships
    (manifest-macro join condition; ExtractEquijoinPredicate kept at
    context.rs:243)."""
    m = _EQ_COND.match(rel.condition)
    if not m:
        raise PlanError(
            f"relationship {rel.name}: only equi-conditions of the form "
            f"model.col = model.col are supported, got {rel.condition!r}"
        )
    return _unq(m.group(1)), _unq(m.group(2)), _unq(m.group(3)), _unq(m.group(4))


def _rel_keys(rel: Relationship, near_model: str) -> tuple[str, str]:
    """(near_key, far_key) for a relationship traversed from near_model."""
    ma, ca, mb, cb = _parse_equi_condition(rel)
    if ma.lower() == near_model.lower():
        return ca, cb
    if mb.lower() == near_model.lower():
        return cb, ca
    raise PlanError(f"relationship {rel.name}: {near_model} is not an endpoint")


def _substitute_vars(condition: str, props: dict[str, str],
                     rule: RowLevelAccessControl) -> str:
    """Replace ``@var`` with session-property literals after validating
    required properties (access_control.rs:121-288 semantics)."""
    declared = {p.name: p for p in rule.required_properties}
    for p in rule.required_properties:
        if p.required and p.name not in props and p.default_expr is None:
            raise AccessControlError(
                f"RLS rule {rule.name!r}: required session property {p.name!r} missing"
            )

    def repl(m: re.Match) -> str:
        var = m.group(1).lower()
        if var in props:
            val = str(props[var])
        elif var in declared and declared[var].default_expr is not None:
            return f"({declared[var].default_expr})"
        else:
            raise AccessControlError(
                f"RLS rule {rule.name!r}: session property {var!r} not provided"
            )
        if _NUMERIC.match(val):
            return val
        return "'" + val.replace("'", "''") + "'"

    return _VAR.sub(repl, condition)


def _sanitize_rls(condition: str, rule_name: str) -> None:
    """Reject subqueries/statements inside RLS conditions
    (access_control.rs:216-248 parity)."""
    if _FORBIDDEN_RLS.search(condition):
        raise AccessControlError(
            f"RLS rule {rule_name!r}: condition must be a simple boolean "
            f"expression (no subqueries/statements)"
        )


def _clac_allows(clac: ColumnLevelAccessControl | None, props: dict[str, str]) -> bool:
    """Evaluate a column-level access rule against session properties
    (access_control.rs:290-399). Missing/failed -> column hidden."""
    if clac is None:
        return True
    for p in clac.required_properties:
        val = props.get(p.name, None)
        if val is None:
            if p.default_expr is not None:
                val = str(p.default_expr).strip("'\"")
            elif p.required:
                return False
            else:
                continue
        if clac.threshold is None:
            continue
        tv = clac.threshold.value
        if clac.threshold.type == "NUMERIC":
            try:
                a, b = float(val), float(tv)
            except ValueError:
                return False
        else:
            a, b = str(val), str(tv)
        op = clac.operator
        ok = (
            (op == "EQUALS" and a == b)
            or (op == "NOT_EQUALS" and a != b)
            or (op in ("GREATER_THAN", "GT") and a > b)
            or (op in ("LESS_THAN", "LT") and a < b)
            or (op in ("GREATER_THAN_OR_EQUALS", "GTE") and a >= b)
            or (op in ("LESS_THAN_OR_EQUALS", "LTE") and a <= b)
        )
        if not ok:
            return False
    return True


def _user_cte_names(spans: list[tuple[str, str]]) -> set[str]:
    """Lower-cased names the query's own leading WITH list defines.
    Literal and comment text is blanked first, so neither a paren nor a
    name inside it counts."""
    code = "".join(t if kind == CODE else " " * len(t) for t, kind in spans)
    m = _LEADING_WITH.match(code)
    names: set[str] = set()
    while m is not None and (m := _CTE_HEAD.match(code, m.end())) is not None:
        names.add(_unq(m.group(1)).lower())
        depth, pos = 1, m.end()
        while depth and pos < len(code):
            depth += {"(": 1, ")": -1}.get(code[pos], 0)
            pos += 1
        m = _CTE_SEP.match(code, pos)
    return names


def _has_star_projection(spans: list[tuple[str, str]]) -> bool:
    """True when the query may project a model's full schema (``*`` or
    ``tbl.*``) — calculated-field pruning must then keep every field.
    ``COUNT(*)`` is NOT a star projection (it reads no columns), so it
    is excluded before the check; remaining ``*`` tokens (including
    multiplication, which is indistinguishable without a parse) keep
    the conservative answer. Literal/comment content is ignored."""
    for seg, kind in spans:
        if kind == CODE and "*" in _COUNT_STAR.sub("", seg):
            return True
    return False


def _single_top_agg(expr: str) -> tuple[str, str] | None:
    """``(HEAD, inner)`` iff ``expr`` is exactly one top-level
    aggregate call ``HEAD( inner )`` — the head's closing paren must
    be the LAST non-space character. A compound measure like
    ``SUM(a)/COUNT(*)`` returns None: its text head is 'SUM' but
    re-aggregating it as a plain sum of the pre-agg ratio column
    would silently answer wrong. Single-quoted SQL strings are
    skipped so a paren inside a literal cannot unbalance the scan."""
    m = re.match(r"\s*([A-Za-z_][A-Za-z_0-9]*)\s*\(", expr)
    if not m:
        return None
    head = m.group(1).upper()
    i, depth, start = m.end() - 1, 0, m.end() - 1
    while i < len(expr):
        c = expr[i]
        if c == "'":  # skip string literal ('' = escaped quote)
            i += 1
            while i < len(expr):
                if expr[i] == "'":
                    if i + 1 < len(expr) and expr[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                if expr[i + 1 :].strip():
                    return None  # trailing operators: compound
                return head, expr[start + 1 : i]
        i += 1
    return None


def cube_body(name: str) -> str:
    """The view name of cube ``name``'s private full-grain body."""
    return f"__wren_cube_{name}"


def _cube_views(cube: Cube) -> list[View]:
    """Cube -> its body and its public view. Each AVG measure adds the
    hidden exact components ``__<m>_sum`` / ``__<m>_cnt`` to the body —
    the standard cube answer for the non-distributive AVG — so
    ``cube_drill`` derives a coarser-grain average as sum-of-sums /
    sum-of-counts; the public view shows the declared columns only."""
    dims = [*cube.dimensions, *cube.time_dimensions]
    items = [f"{f.expression} AS {bq(f.name)}" for f in [*dims, *cube.measures]]
    for m in cube.measures:
        top = _single_top_agg(m.expression)
        if top is not None and top[0] == "AVG" and not _DISTINCT.match(top[1]):
            items.append(f"SUM({top[1]}) AS {bq(f'__{m.name}_sum')}")
            items.append(f"COUNT({top[1]}) AS {bq(f'__{m.name}_cnt')}")
    body = f"SELECT {', '.join(items)} FROM {bq(cube.base_object)}"
    if dims:
        body += f" GROUP BY {', '.join(d.expression for d in dims)}"
    public = ", ".join(bq(f.name) for f in [*dims, *cube.measures])
    return [
        View(cube_body(cube.name), body),
        View(cube.name, f"SELECT {public} FROM {bq(cube_body(cube.name))}"),
    ]


class _Calc(NamedTuple):
    col: Column
    paths: list[RelPath]
    deps: set[str]      # lower-cased names of the model's calcs it references
    aggregate: bool


class _ViewText(NamedTuple):
    view: View
    text: str           # namespace-stripped statement
    idents: set[str]
    star: bool


class CteRewriter:
    def __init__(self, manifest: Manifest, properties: dict[str, str] | None = None,
                 source_sql: dict[str, str] | None = None):
        """``source_sql`` maps model name -> FROM leaf for its physical
        source (default: the raw table_reference, or the parenthesized
        ref_sql). Raises PlanError on a view dependency cycle.

        ``materialized`` maps a lower-cased model name to a view holding
        that model's full expansion (``model_sql`` with every field), or
        a cube body's name to a view holding its rows; the CTE then reads
        from it. The engine fills it at deploy, after it has planned each
        expansion."""
        self.manifest = manifest
        self.properties = {k.lower(): str(v) for k, v in (properties or {}).items()}
        self.source_sql = {k.lower(): v for k, v in (source_sql or {}).items()}
        self.materialized: dict[str, str] = {}
        self._calcs = {m.name.lower(): self._calc_meta(m) for m in manifest.models}
        self.views = self._views_in_dependency_order()
        self._names = set(self._calcs) | {v.view.name.lower() for v in self.views}

    # ----------------------------------------------------------- public

    def rewrite(self, sql: str) -> str:
        """Return ``WITH <model CTEs>, <view CTEs> <sql>`` for every model
        and view the query references, directly or through views
        (manifest-extractor trimming, wren-core-py/src/extractor.rs:19-46).
        Each model CTE attaches only the calculated fields named in the
        query or its views (semantic-layer column pruning, parity with
        ModelPlanNode's required-column collection, analyze/plan.rs:
        63-426), closed over calc-to-calc references; a ``*`` in a text
        that names a model keeps every field. A name collision only adds
        a field (cost, not results). A cube body the engine materialized
        reads its cached rows instead of its text.
        A CTE of the query's own WITH list shadows the model or view of
        its name, which then gets no CTE; a manifest view the query
        reads may not name it (PlanError), as the view would read the
        deployed model, which a standalone dry plan lacks."""
        spans = self._strip_spans(sql)
        shadowed = _user_cte_names(spans) & self._names
        idents = identifiers_from_spans(spans)
        # a '*' can only widen a model the query itself names
        star = _has_star_projection(spans) and not idents.isdisjoint(self._calcs)
        views: list[_ViewText] = []
        # reverse dependency order: a view is reached before the views
        # it reads, so one pass collects the transitive closure
        for v in reversed(self.views):
            name = v.view.name.lower()
            if name in idents and name not in shadowed:
                if v.idents & shadowed:
                    raise PlanError(
                        f"view {v.view.name!r} reads "
                        f"{', '.join(sorted(v.idents & shadowed))}, which the "
                        "query's own WITH list redefines"
                    )
                if name in self.materialized:
                    v = v._replace(
                        text=f"SELECT * FROM {self.materialized[name]}", idents=set(), star=False
                    )
                views.insert(0, v)
                idents |= v.idents
                star = star or v.star
        ctes = []
        for model in self.manifest.models:
            name = model.name.lower()
            if name not in idents or name in shadowed:
                continue
            meta = self._calcs[name]
            calcs = None if star else self._closure(meta, idents)
            ctes.append(f"{bq(model.name)} AS (\n{self.model_sql(model, calcs)}\n)")
        ctes += [f"{bq(v.view.name)} AS (\n  {v.text}\n)" for v in views]
        text = "".join(t for t, _ in spans)
        if not ctes:
            return text
        # a user query with its own WITH list joins the same list: Spark
        # and DuckDB both reject a second WITH after the first
        for i, (t, kind) in enumerate(spans):
            if kind == COMMENT or not t.strip():
                continue
            m = _LEADING_WITH.match(t) if kind == CODE else None
            if m is not None:
                rest = t[m.end():].lstrip() + "".join(s for s, _ in spans[i + 1:])
                ctes.append("".join(s for s, _ in spans[:i]) + rest)
                return "WITH " + ",\n".join(ctes)
            break
        return "WITH " + ",\n".join(ctes) + "\n" + text

    def model_sql(self, model: Model, calcs: set[str] | None = None) -> str:
        """The CTE body of one model (ModelSourceNode + calculated-field
        generation, model_generation.rs:133-285): its visible columns,
        in manifest order, with the calculated fields named in ``calcs``
        (lower-cased; None = every field) attached, read from the
        model's materialized view when it has one."""
        meta = self._calcs[model.name.lower()]
        names = set(meta) if calcs is None else calcs
        visible = [
            f"__base.{bq(c.name)}"
            for c in model.columns
            if not c.is_relationship
            and not c.is_hidden
            and (not c.is_calculated or c.name.lower() in names)
            and _clac_allows(c.column_level_access_control, self.properties)
        ]
        source = self.materialized.get(model.name.lower())
        if source is None:
            source = f"({self._relation(model, names)})"
        return f"  SELECT {', '.join(visible)}\n  FROM {source} AS __base"

    def strip_ns(self, sql: str) -> str:
        """Strip ``catalog.schema.`` prefixes from model references and
        turn double-quoted identifiers into backticks (model_anlayze.rs:
        56-64 step 3 does the same before unparse). String literals are
        never touched."""
        return "".join(t for t, _ in self._strip_spans(sql))

    def drill_sql(
        self, name: str, hierarchy: str | None = None, level: str | None = None
    ) -> str:
        """The text that re-aggregates cube ``name``'s body up the named
        hierarchy to ``level`` (which must be a member of the hierarchy;
        all levels up to and including it are kept, the finer ones roll
        up; no hierarchy keeps the full grain).

        Measures must be a single top-level aggregate call and
        re-aggregate by head — SUM/COUNT roll up as sums (a DECIMAL
        sum stays exact under re-aggregation), MIN/MAX as min/max, AVG
        derives from the body's hidden exact (sum, count) components
        (sum-of-sums / sum-of-counts, one final double division);
        compound expressions and DISTINCT counts are not distributive
        over the pre-agg and raise PlanError rather than silently
        answering wrong."""
        cube = next((c for c in self.manifest.cubes if c.name == name), None)
        if cube is None:
            raise PlanError(f"unknown cube {name!r}")
        dims = [d.name for d in cube.dimensions]
        dims += [t.name for t in cube.time_dimensions]
        if hierarchy is None and level is not None:
            raise PlanError(
                f"level {level!r} given without a hierarchy — a drill "
                "needs both (omitting hierarchy returns the full grain)"
            )
        if hierarchy is not None:
            hier = cube.hierarchies.get(hierarchy)
            if hier is None:
                raise PlanError(
                    f"cube {name!r} has no hierarchy {hierarchy!r} "
                    f"(has: {sorted(cube.hierarchies)})"
                )
            if level not in hier:
                raise PlanError(
                    f"level {level!r} not in hierarchy {hierarchy!r} ({hier})"
                )
            keep = hier[: hier.index(level) + 1]
            keep += [d for d in dims if d not in hier]
        else:
            keep = dims
        aggs = []
        for m in cube.measures:
            # the measure must be a SINGLE top-level aggregate call —
            # a compound like SUM(a)/COUNT(*) has text head 'SUM' but
            # summing the pre-agg ratio column would silently answer
            # wrong (the exact failure this guard exists to prevent)
            top = _single_top_agg(m.expression)
            if top is None:
                raise PlanError(
                    f"measure {m.name!r} ({m.expression!r}) is not a "
                    "single top-level aggregate and cannot be "
                    "re-aggregated over the pre-agg; query the base "
                    "model instead"
                )
            head, inner = top
            # DISTINCT as the aggregate's qualifier only — a column
            # NAMED e.g. distinct_users is perfectly re-aggregatable
            if _DISTINCT.match(inner):
                raise PlanError(
                    f"measure {m.name!r} (DISTINCT) is not re-aggregatable "
                    "over the pre-agg"
                )
            col = bq(m.name)
            if head in ("SUM", "COUNT"):
                aggs.append(f"SUM({col}) AS {col}")
            elif head in ("MIN", "MAX"):
                aggs.append(f"{head}({col}) AS {col}")
            elif head == "AVG":
                # derived measure: exact component sums roll up, ONE
                # final double division (deterministic at any grain)
                aggs.append(
                    f"CAST(SUM({bq(f'__{m.name}_sum')}) AS DOUBLE)"
                    f" / CAST(SUM({bq(f'__{m.name}_cnt')}) AS DOUBLE) AS {col}"
                )
            else:
                raise PlanError(
                    f"measure {m.name!r} ({head}) is not re-aggregatable "
                    "over the pre-agg; query the base model instead"
                )
        keys = [bq(k) for k in keep]
        text = f"SELECT {', '.join([*keys, *aggs])} FROM {bq(cube_body(name))}"
        if keys:
            text += f" GROUP BY {', '.join(keys)}"
        return text

    # ---------------------------------------------------------- helpers

    def _strip_spans(self, sql: str) -> list[tuple[str, str]]:
        cat, sch = self.manifest.catalog, self.manifest.schema

        def seg(s: str) -> str:
            for pat in (
                rf'"{cat}"\s*\.\s*"{sch}"\s*\.',
                rf"\b{re.escape(cat)}\s*\.\s*{re.escape(sch)}\s*\.",
                rf'\b{re.escape(sch)}\s*\.\s*(?=")',
            ):
                s = re.sub(pat, "", s)
            return re.sub(r'"([^"]+)"', r"`\1`", s)

        return [(seg(t) if kind == CODE else t, kind) for t, kind in lex(sql)]

    def _calc_meta(self, model: Model) -> dict[str, _Calc]:
        names = {c.name.lower() for c in model.calculated_columns}
        out = {}
        for c in model.calculated_columns:
            expr = c.expression or ""
            out[c.name.lower()] = _Calc(
                c,
                extract_paths(model, self.manifest, expr),
                (identifiers(expr) & names) - {c.name.lower()},
                is_aggregate_expression(expr),
            )
        return out

    @staticmethod
    def _closure(meta: dict[str, _Calc], names: set[str]) -> set[str]:
        """The calcs named in ``names`` plus every calc they reference."""
        todo = [n for n in names if n in meta]
        out = set(todo)
        while todo:
            for d in meta[todo.pop()].deps - out:
                out.add(d)
                todo.append(d)
        return out

    def _leaf(self, model: Model) -> str:
        return self.source_sql.get(
            model.name.lower(),
            model.table_reference or f"({self.strip_ns(model.ref_sql)})",
        )

    def _relation(self, model: Model, calcs: set[str]) -> str:
        """Every physical column of ``model`` filtered by its RLS rules
        (access_control.rs:121-288), plus the calculated fields in
        ``calcs``. Fields come in dependency order, so a field reads an
        earlier one through Spark's lateral column alias whatever the
        manifest order; unresolvable ones go last, so the analysis error
        names the missing column."""
        phys = ", ".join(
            f"{_sq(c.sql_expression)} AS {bq(c.name)}" for c in model.physical_columns
        )
        sql = f"SELECT {phys} FROM {self._leaf(model)} AS __source"
        conds = []
        for rule in model.row_level_access_controls:
            _sanitize_rls(rule.condition, rule.name)
            conds.append(
                "(" + _sq(_substitute_vars(rule.condition, self.properties, rule)) + ")"
            )
        if conds:
            sql = f"SELECT * FROM ({sql}) AS __source WHERE {' AND '.join(conds)}"
        meta = self._calcs[model.name.lower()]
        pending = [n for n in meta if n in calcs]
        if not pending:
            return sql
        items: list[str] = []
        joins: list[str] = []
        done: set[str] = set()
        while pending:
            ready = [n for n in pending if meta[n].deps <= done] or pending
            for n in ready:
                calc = meta[n]
                expr = calc.col.expression or ""
                if calc.aggregate and len(calc.paths) > 1:
                    raise PlanError(
                        f"calculated field {model.name}.{calc.col.name}: multiple "
                        f"relationship paths in one aggregate expression are not "
                        f"yet supported"
                    )
                for path in calc.paths:
                    alias = f"__j{len(joins)}"
                    joins.append(self._path_join(model, calc, path, alias))
                    # an aggregate is computed whole inside its join
                    ref = f"{alias}.__v"
                    expr = ref if calc.aggregate else expr.replace(path.raw, ref)
                items.append(f"{_sq(expr)} AS {bq(calc.col.name)}")
            done.update(ready)
            pending = [n for n in pending if n not in done]
        return f"SELECT __base.*, {', '.join(items)}\n  " + "\n  ".join(
            [f"FROM ({sql}) AS __base", *joins]
        )

    def _path_join(self, model: Model, calc: _Calc, path: RelPath, alias: str) -> str:
        """LEFT JOIN of one relationship path as a ``(__k, __v)`` subquery
        keyed on the first hop's far key (plan.rs:189-291, 1038-1143).
        Each hop target is its RLS-filtered relation plus the plain
        calculated fields the terminal needs (PartialModelPlanNode,
        plan.rs:1149-1201); every hop gets its own alias, so same-named
        columns of different models never collide."""
        cur = model
        hops: list[str] = []
        base_key = first_far = ""
        for i, hop in enumerate(path.hops):
            rel = self.manifest.relationship(cur.column(hop).relationship)
            near, far = _rel_keys(rel, cur.name)
            if not calc.aggregate and not rel.is_to_one(cur.name):
                raise PlanError(
                    f"calculated field {model.name}.{calc.col.name}: non-aggregate "
                    f"expression crosses to-many relationship {rel.name}"
                )
            target = self.manifest.model(rel.other_model(cur.name))
            tmeta = self._calcs[target.name.lower()]
            needed = (
                self._closure(tmeta, {path.terminal.lower()})
                if i == len(path.hops) - 1 else set()
            )
            # relationship-backed fields never ride along a hop
            needed = {n for n in needed if not tmeta[n].paths}
            rel_sql = f"(\n      {self._relation(target, needed)}\n    ) AS __h{i}"
            if i == 0:
                base_key, first_far = near, f"__h0.{bq(far)}"
                hops.append(rel_sql)
            else:
                hops.append(
                    f"LEFT JOIN {rel_sql} ON __h{i - 1}.{bq(near)} = __h{i}.{bq(far)}"
                )
            cur = target
        value = f"__h{len(path.hops) - 1}.{bq(path.terminal)}"
        group = ""
        if calc.aggregate:
            value = _sq((calc.col.expression or "").replace(path.raw, value))
            group = f"\n    GROUP BY {first_far}"
        chain = "\n    ".join(hops)
        return (
            f"LEFT JOIN (\n    SELECT {first_far} AS __k, {value} AS __v\n"
            f"    FROM {chain}{group}\n"
            f"  ) AS {alias} ON __base.{bq(base_key)} = {alias}.__k"
        )

    def _views_in_dependency_order(self) -> list[_ViewText]:
        """Manifest views and each cube's two views, ordered so that a
        view reading another comes after it, whatever the manifest order
        (the reference expands views lazily, expand_view.rs:35-69; a CTE
        list and eager temp-view registration both need the order).
        Cycles raise PlanError."""
        texts: dict[str, _ViewText] = {}
        cubes = [v for c in self.manifest.cubes for v in _cube_views(c)]
        for v in [*self.manifest.views, *cubes]:
            spans = self._strip_spans(v.statement)
            idents = identifiers_from_spans(spans)
            texts[v.name.lower()] = _ViewText(
                v, "".join(t for t, _ in spans), idents,
                _has_star_projection(spans) and not idents.isdisjoint(self._calcs),
            )
        ordered: list[_ViewText] = []
        done: set[str] = set()
        visiting: set[str] = set()

        def visit(name: str) -> None:
            if name in done:
                return
            if name in visiting:
                raise PlanError(f"view dependency cycle involving {name!r}")
            visiting.add(name)
            # identifier tokens outside string literals only — a view name
            # appearing in a literal is not a dependency
            for d in sorted(n for n in texts[name].idents if n in texts and n != name):
                visit(d)
            visiting.discard(name)
            done.add(name)
            ordered.append(texts[name])

        for name in texts:
            visit(name)
        return ordered
