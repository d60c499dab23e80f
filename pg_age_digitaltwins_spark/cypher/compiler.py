"""Cypher read subset → Spark DataFrame plans.

Where the reference ships Cypher strings to AGE's executor inside
Postgres, this compiler builds declarative DataFrame plans over the
graph store — same join shapes as the ADT QL compiler, plus:

* ``OPTIONAL MATCH``    → left outer join of the optional sub-pattern
                          (``Models.cs:568-572`` shape)
* ``UNWIND``            → ``explode`` (C7)
* ``UNION [ALL]``       → ``union`` / ``union + distinct`` (C8)
* aggregates            → ``groupBy(non-aggregated items).agg(...)``,
                          ``collect(x)`` → ``collect_list`` (C5/C6)
* ``[*min..max]``       → iterative frontier self-join with per-depth
                          ``distinct`` (C10); bounded (cap 10) —
                          at 100 TB this is the "BFS with frontier
                          dedup" plan from SURVEY.md §7, each depth one
                          equi-join + distinct, checkpointable
* ``label(r)``          → the promoted ``name`` column (C11)
* ``toLower/toString…`` → native functions (C12)
* ``l2_distance``       → ``aggregate(zip_with(...))`` fold — JVM-side,
                          no UDF (C13)
* ``(m:Model)`` nodes   → the models dim table (the reference stores
                          models as a second vertex label); ``_extends``
                          / ``_hasComponent`` edges → ``model_edges``

Shared-variant helper columns are pinned exactly like the ADT QL
compiler (see ``adtql/compiler._pin``) so dynamic property access costs
one variant navigation per row.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from pg_age_digitaltwins_spark.adtql.compiler import _pin
from pg_age_digitaltwins_spark.cypher import ast as C
from pg_age_digitaltwins_spark.cypher.parser import parse_cypher
from pg_age_digitaltwins_spark.functions import json_props as J
from pg_age_digitaltwins_spark.store.graph_store import GraphStore

MAX_VAR_LENGTH = 10
# allShortestPaths() renders ONE ROW PER PATH (Neo4j cardinality); path
# counts grow multiplicatively on dense graphs, so the per-(src, dst)
# fan-out is capped — above this a query raises a clear error instead of
# an executor OOM or (far later) Spark's array-element limit.
MAX_ALL_SHORTEST_PATHS_PER_PAIR = 1_000_000

TWIN_PROMOTED = {
    ("$dtId",): "dt_id",
    ("$etag",): "etag",
    ("$metadata", "$model"): "model_id",
}
REL_PROMOTED = {
    ("$relationshipId",): "relationship_id",
    ("$sourceId",): "source_id",
    ("$targetId",): "target_id",
    ("$relationshipName",): "name",
    ("$etag",): "etag",
}
MODEL_PROMOTED = {("id",): "dt_id", ("decommissioned",): "decommissioned"}

# plpgsql helpers the reference installs per graph, callable as
# ``<graphName>.<fn>(...)`` from raw Cypher (GraphInitialization.cs:50-264)
_GRAPH_HELPERS = {
    "is_of_model",
    "is_number",
    "is_string",
    "is_object",
    "is_primitive",
    "model_and_descendants",
}


class CypherCompileError(ValueError):
    pass


# Neo4j temporal-instant component names (lowercased) → Column fn.
# dayOfWeek is ISO (Monday=1..Sunday=7): Spark weekday() is Monday=0.
_TEMPORAL_COMPONENTS = {
    "year": F.year,
    "quarter": F.quarter,
    "month": F.month,
    "week": F.weekofyear,
    "day": F.dayofmonth,
    "dayofweek": lambda c: F.weekday(c) + F.lit(1),
    "ordinalday": F.dayofyear,
    "dayofyear": F.dayofyear,
    "hour": F.hour,
    "minute": F.minute,
    "second": F.second,
    "epochseconds": lambda c: F.unix_seconds(c.cast("timestamp")),
    "epochmillis": lambda c: F.unix_millis(c.cast("timestamp")),
}


# Neo4j duration components (plural) → GROUP-TOTAL expressions over
# Spark interval extract fields (r10, ADVICE parity fix).  Neo4j
# accessors return totals WITHIN the component's group, not
# within-parent remainders: duration('P2Y3M').months == 27 (total
# months), and a 1h30m seconds group has .minutes == 90.  Groups:
#   months group  → years / quarters / months   (ym-interval)
#   days group    → weeks / days                (dt-interval DAY field)
#   seconds group → hours / minutes / seconds / milliseconds
#                   (dt-interval sub-day remainder)
# DOCUMENTED DIVERGENCE: Spark day-time intervals store total
# microseconds, so 24h always folds into the days group at
# construction (duration('PT26H').days == 1 here; Neo4j keeps a
# pure-seconds duration with .days == 0).  Within that folded
# decomposition every accessor matches Neo4j's group-total rules.
def _ival_total_months(c):
    return (
        F.date_part(F.lit("YEAR"), c).cast("long") * F.lit(12)
        + F.date_part(F.lit("MONTH"), c).cast("long")
    )


def _ival_secgroup_seconds(c):
    # seconds-group total (sub-day remainder), truncated to whole secs
    return (
        F.date_part(F.lit("HOUR"), c).cast("long") * F.lit(3600)
        + F.date_part(F.lit("MINUTE"), c).cast("long") * F.lit(60)
        + F.floor(F.date_part(F.lit("SECOND"), c)).cast("long")
    )


_INTERVAL_COMPONENTS = {
    # ym family
    "years": ("ym", lambda c: F.date_part(F.lit("YEAR"), c).cast("long")),
    "quarters": ("ym", lambda c: (_ival_total_months(c) / F.lit(3)).cast("long")),
    "months": ("ym", _ival_total_months),
    # dt family — days group
    "weeks": (
        "dt",
        lambda c: (F.date_part(F.lit("DAY"), c).cast("long") / F.lit(7)).cast("long"),
    ),
    "days": ("dt", lambda c: F.date_part(F.lit("DAY"), c).cast("long")),
    # dt family — seconds group (totals within the sub-day remainder)
    "hours": ("dt", lambda c: F.date_part(F.lit("HOUR"), c).cast("long")),
    "minutes": (
        "dt",
        lambda c: (_ival_secgroup_seconds(c) / F.lit(60)).cast("long"),
    ),
    "seconds": ("dt", _ival_secgroup_seconds),
    "milliseconds": (
        "dt",
        lambda c: _ival_secgroup_seconds(c) * F.lit(1000)
        + ((F.date_part(F.lit("SECOND"), c) % F.lit(1)) * F.lit(1000)).cast("long"),
    ),
}


def _temporal_component(c, path: list[str], dtype: str):
    if len(path) != 1:
        raise CypherCompileError(
            "temporal component access supports one component; got "
            f".{'.'.join(path)} on {dtype}"
        )
    if dtype.startswith("interval"):
        ent = _INTERVAL_COMPONENTS.get(path[0].lower())
        if ent is None:
            raise CypherCompileError(
                f"unknown duration component {path[0]!r} — one of "
                f"{sorted(_INTERVAL_COMPONENTS)}"
            )
        fam, fn = ent
        if ("year" in dtype or "month" in dtype) != (fam == "ym"):
            raise CypherCompileError(
                f"duration component {path[0]!r} does not exist on a "
                f"{dtype} value (Spark intervals keep calendar and "
                "clock families separate)"
            )
        return fn(c)
    fn = _TEMPORAL_COMPONENTS.get(path[0].lower())
    if fn is None:
        raise CypherCompileError(
            f"unknown temporal component {path[0]!r} — one of "
            f"{sorted(_TEMPORAL_COMPONENTS)}"
        )
    return fn(c).cast("long")


_ISO_DURATION = re.compile(
    r"^P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)W)?(?:(\d+)D)?"
    r"(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?$"
)


def _duration_interval(spec: str):
    """ISO-8601 duration literal → a Spark interval Column.

    Spark has two interval families (year-month, day-time) that cannot
    mix in one value, so a duration using BOTH calendar (Y/M) and
    clock (W/D/T…) parts is rejected with a clear error — split it
    into two arithmetic steps instead.  Neo4j semantics for the
    supported subset are identical (P3M is 3 calendar months; P1W = 7
    days)."""
    m = _ISO_DURATION.match(spec.strip())
    if not m or not any(m.groups()):
        raise CypherCompileError(
            f"duration(): unparsable ISO-8601 duration {spec!r}"
        )
    y, mo, w, d, h, mi, s = m.groups()
    calendar = bool(y or mo)
    clock = bool(w or d or h or mi or s)
    if calendar and clock:
        raise CypherCompileError(
            "duration(): calendar (Y/M) and clock (W/D/H/M/S) parts "
            "cannot mix in one Spark interval — add them in two steps, "
            "e.g. x + duration('P1M') + duration('P2D')"
        )
    if calendar:
        return F.make_ym_interval(
            F.lit(int(y or 0)), F.lit(int(mo or 0))
        )
    return F.make_dt_interval(
        F.lit(int(w or 0) * 7 + int(d or 0)),
        F.lit(int(h or 0)),
        F.lit(int(mi or 0)),
        F.lit(float(s or 0)),
    )


@dataclass
class Binding:
    name: str
    kind: str  # 'twin' | 'rel' | 'model' | 'value'
    df_alias: str  # qualified alias for twin/rel/model; column name for value
    # Join-eliminated pass-through node: no twin scan joined — the
    # binding rides the adjacent relationship frame and ``key_col``
    # (source_id/target_id) IS its dt_id.  Only ANONYMOUS nodes are
    # eliminated in Cypher (they can never be referenced), so a virtual
    # binding never enters ``env``.
    key_col: str = "dt_id"
    virtual: bool = False
    # lambda-scoped bindings (list comprehension / reduce element and
    # accumulator variables): ``col`` IS the element Column handed to
    # the higher-order function's lambda; ``variant`` marks elements of
    # a variant-typed array (dynamic property) needing typed extraction
    col: object = None
    variant: bool = False


class CypherCompiler:
    def __init__(self, store: GraphStore):
        self.store = store
        self._twins = store.twins_v()
        self._twins_adaptive = store.twins_adaptive_v()
        self._rels = store.relationships_v()
        self._rels_in = store.relationships_in_v()
        self._models = self._models_frame(store)
        self._anon = 0
        # var-length edge aliases are NOT bound (openCypher binds them
        # to a relationship LIST; this engine doesn't materialize it)
        # — tracked so referencing one errors with the reason, not a
        # generic unknown-variable message
        self._vlen_aliases: set[str] = set()
        self._shared: dict[tuple, str] = {}
        self._pending_v: list[tuple[str, Column]] = []
        self._pending_s: list[tuple[str, Column]] = []
        self._value_variant: set[str] = set()  # UNWIND cols of variant type
        # WITH-projected temporal/duration values (column → dtype):
        # enables component access (d.year) and typed +/- compilation
        self._value_temporal: dict[str, str] = {}
        # per-path edge bindings (appended by _hop, cleared by _match):
        # feeds nodes(p)/relationships(p) array materialization
        self._hop_edges: list[tuple[Binding, str]] = []
        # path vars whose node/rel arrays were materialized (fixed paths)
        self._path_vars_fixed: set[str] = set()
        self.cartesian_products = 0  # disconnected-pattern cross joins
        # WHERE conjuncts pushed to their alias's scan (consumed by
        # _bind_node/_hop; anything unconsumed falls back to the
        # post-pattern residual filter)
        self._scan_preds: dict[str, list] = {}
        # True when the accumulated frame is provably small (1-row
        # global WITH-aggregate or an explicit LIMIT): crossing a scan
        # against it is a plain scan, not a blowup
        self._frame_bounded = False

    # A disconnected MATCH (``MATCH (a), (b)``) is semantically a
    # cartesian product — legal Cypher, catastrophic at scale when the
    # new side is fact-sized: the result multiplies by the FULL twin
    # count.  Catalyst size estimates can't arbitrate (without CBO a
    # Filter keeps its child's sizeInBytes, so every side of a 100 TB
    # store looks huge), so the guard is semantic: the disconnected
    # side must be bounded — a property-map anchor or the models dim —
    # or compilation fails with a fix-it message.  Disable via this
    # class attribute for intentional full-graph products.
    cartesian_guard: bool = True

    @staticmethod
    def _models_frame(store: GraphStore) -> DataFrame:
        from pg_age_digitaltwins_spark.store.graph_store import with_vdoc

        return with_vdoc(
            store.models.select(
                F.col("id").alias("dt_id"),
                F.col("decommissioned"),
                F.col("model").alias("doc"),
            )
        )

    # ------------------------------------------------------------------
    def compile(self, q: C.SingleQuery | C.UnionQuery) -> DataFrame:
        if isinstance(q, C.UnionQuery):
            parts = []
            for s in q.queries:
                sub = CypherCompiler(self.store)
                parts.append(sub._single(s))
                self.cartesian_products += sub.cartesian_products
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out if q.all else out.distinct()
        return self._single(q)

    # ------------------------------------------------------------------
    def _single(self, q: C.SingleQuery) -> DataFrame:
        env: dict[str, Binding] = {}
        df: DataFrame | None = None
        for clause in q.clauses:
            if isinstance(clause, C.MatchClause):
                df = self._match(df, env, clause)
            elif isinstance(clause, C.UnwindClause):
                df = self._unwind(df, env, clause)
            elif isinstance(clause, C.WithClause):
                df, env = self._with(df, env, clause)
            elif isinstance(clause, C.CallClause):
                df = self._call(df, env, clause)
            elif isinstance(clause, C.ProcCallClause):
                df = self._proc_call(df, env, clause)
            else:  # pragma: no cover
                raise CypherCompileError(f"Unsupported clause {clause!r}")
        if df is None:
            df = self.store.spark.range(1).select(F.lit(1).alias("__one"))
        return self._return(df, env, q)

    # ------------------------------------------------------------------
    # MATCH
    # ------------------------------------------------------------------
    def _anon_alias(self) -> str:
        self._anon += 1
        return f"__c{self._anon}"

    def _node_frame(self, node: C.NodePat) -> tuple[DataFrame, str]:
        if "Model" in node.labels:
            return self._models, "model"
        return self._twins, "twin"

    def _bind_node(
        self, df: DataFrame | None, env: dict[str, Binding], node: C.NodePat
    ) -> tuple[DataFrame, Binding]:
        if node.alias and node.alias in env:
            b = env[node.alias]
            if b.kind == "value":
                raise CypherCompileError(
                    f"Cannot MATCH on {node.alias!r}: patterns over "
                    "WITH-projected values are not supported — match "
                    "first, then WITH"
                )
            if df is None:  # pragma: no cover — rebinding without a frame
                raise CypherCompileError(f"Alias {node.alias} bound without frame")
            return self._apply_node_props(df, b, node), b
        frame, kind = self._node_frame(node)
        alias = node.alias or self._anon_alias()
        b = Binding(node.alias or "", kind, alias)
        if node.alias:
            env[node.alias] = b
        scan = frame.alias(alias)
        # a pushed-down WHERE conjunct bounds the side like a prop map
        # (capture BEFORE _apply_scan_preds pops the entry)
        anchored = bool(node.props) or bool(
            node.alias and node.alias in self._scan_preds
        )
        scan_df = self._apply_node_props_scan(scan, alias, kind, node)
        scan_df = self._apply_scan_preds(scan_df, node.alias, b)
        if df is None:
            if kind == "twin" and not anchored:
                self._frame_bounded = False
            return scan_df, b
        if (
            self.cartesian_guard
            and kind == "twin"
            and not anchored
            and not self._frame_bounded
        ):
            raise CypherCompileError(
                f"disconnected pattern ({node.alias or '...'}) starts a "
                "cartesian product over the full twin set; anchor it "
                "with a property map (e.g. (b {`$dtId`: ...})) or a "
                "WHERE filter on it, connect it to the bound pattern, "
                "or set CypherCompiler.cartesian_guard = False for an "
                "intentional full-graph product"
            )
        if kind == "twin" and not anchored:
            # an unrestricted twin scan makes the accumulated frame
            # unbounded again — a later disconnected pattern in the
            # SAME query must re-trip the guard even after a 1-row
            # WITH aggregate
            self._frame_bounded = False
        self.cartesian_products += 1
        return df.crossJoin(scan_df), b

    def _apply_node_props_scan(
        self, scan: DataFrame, alias: str, kind: str, node: C.NodePat
    ) -> DataFrame:
        for key, lit in node.props.items():
            scan = scan.filter(self._prop_eq(alias, kind, key, lit))
        return scan

    def _apply_node_props(self, df: DataFrame, b: Binding, node: C.NodePat) -> DataFrame:
        for key, lit in node.props.items():
            df = df.filter(self._prop_eq(b.df_alias, b.kind, key, lit))
        return df

    def _prop_eq(self, alias: str, kind: str, key: str, lit: C.Lit) -> Column:
        promoted = {
            "twin": TWIN_PROMOTED, "rel": REL_PROMOTED, "model": MODEL_PROMOTED
        }[kind].get((key,))
        if promoted:
            return F.col(f"{alias}.{promoted}") == F.lit(lit.value)
        v = F.try_variant_get(F.col(f"{alias}.vdoc"), J.variant_path([key]), "variant")
        if lit.kind == "number":
            return F.try_variant_get(v, "$", "double") == float(lit.value)
        if lit.kind == "bool":
            return F.try_variant_get(v, "$", "boolean") == lit.value
        return F.try_variant_get(v, "$", "string") == lit.value

    def _match(
        self, df: DataFrame | None, env: dict[str, Binding], clause: C.MatchClause
    ) -> DataFrame:
        if clause.optional:
            return self._optional_match(df, env, clause)
        # Scan-predicate pushdown (same placement policy as the ADT QL
        # compiler's _split_where): a WHERE conjunct referencing exactly
        # ONE alias bound fresh in this clause filters that alias's scan
        # BEFORE any join — pattern legs shrink at the source, an
        # IS_OF_MODEL start filter partition-prunes its scan, and the
        # var-length seed semi-join sees the FILTERED start set instead
        # of every twin.  All pattern joins are inner, so single-alias
        # conjuncts commute with the joins; anything unconsumed (e.g. a
        # var-length target) falls back to the residual filter below.
        residual: list[C.Expr] = []
        pattern_joins: list[tuple[C.PathPat, bool]] = []
        if clause.where is not None:
            fresh: set[str] = set()
            for p in clause.paths:
                for n in p.nodes:
                    if n.alias and n.alias not in env:
                        fresh.add(n.alias)
                for e in p.edges:
                    if e.alias and e.var_length is None and e.alias not in env:
                        fresh.add(e.alias)
            for conj in _cy_conjuncts(clause.where):
                # existential pattern predicates compile to semi/anti
                # joins, never to Columns — segregate top-level
                # conjuncts here (deeper occurrences raise in _expr)
                if isinstance(conj, C.PatternPred):
                    pattern_joins.append((conj.path, False, conj.where))
                    continue
                if isinstance(conj, C.Not) and isinstance(
                    conj.item, C.PatternPred
                ):
                    pattern_joins.append(
                        (conj.item.path, True, conj.item.where)
                    )
                    continue
                names = _cy_expr_aliases(conj)
                if len(names) == 1 and next(iter(names)) in fresh:
                    self._scan_preds.setdefault(next(iter(names)), []).append(conj)
                else:
                    residual.append(conj)
        for path in clause.paths:
            df, left = self._bind_node(df, env, path.nodes[0])
            if path.shortest:
                df, left = self._shortest(df, env, left, path)
            else:
                self._hop_edges = []
                node_keys = [self._key_col(left)]
                for edge, node in zip(path.edges, path.nodes[1:]):
                    df, left = self._hop(df, env, left, edge, node)
                    node_keys.append(self._key_col(left))
                if path.var:
                    if any(e.var_length is not None for e in path.edges):
                        raise CypherCompileError(
                            "path variables over variable-length patterns are "
                            "only supported inside shortestPath(...)"
                        )
                    # fixed-length path: length(p) is the edge count,
                    # and the hop key columns materialize the
                    # nodes(p)/relationships(p) id arrays (AGE returns
                    # whole entities; ids are this engine's documented
                    # path rendering)
                    col = f"__plen_{path.var}"
                    df = df.withColumn(col, F.lit(len(path.edges)))
                    env[path.var] = Binding(path.var, "value", col)
                    df = df.withColumn(
                        f"__pnodes_{path.var}", F.array(*node_keys)
                    )
                    rel_ids = [
                        self._col(e, "relationship_id")
                        for e, kind in self._hop_edges
                        if kind == "rel"
                    ]
                    if len(rel_ids) == len(path.edges):
                        df = df.withColumn(
                            f"__prels_{path.var}", F.array(*rel_ids)
                        )
                    self._path_vars_fixed.add(path.var)
        # unconsumed pushed conjuncts → residual (correctness fallback)
        for conjs in self._scan_preds.values():
            residual.extend(conjs)
        self._scan_preds = {}
        if residual:
            pred = self._expr(residual[0], env, as_predicate=True)
            for c in residual[1:]:
                pred = pred & self._expr(c, env, as_predicate=True)
            df = self._inject(df).filter(pred)
        for path, negated, where in pattern_joins:
            df = self._pattern_semi_join(df, env, path, negated, where)
        return df

    def _subquery_frame(
        self,
        env: dict[str, Binding],
        path: C.PathPat,
        where: C.Expr | None,
        what: str,
    ) -> tuple[DataFrame, Binding, Binding]:
        """Compile a pattern subquery (EXISTS/COUNT/pattern predicate)
        as its own mini-match anchored at the bound variable's fresh
        scan.  Returns (subquery frame, anchor binding INSIDE the
        subquery, anchor binding in the MAIN frame)."""
        anchor = path.nodes[0]
        if not anchor.alias or anchor.alias not in env:
            raise CypherCompileError(
                f"a {what} must start at a variable bound by MATCH"
            )
        for n in path.nodes[1:]:
            if n.alias and n.alias in env:
                raise CypherCompileError(
                    f"{what}s may not reference a second bound "
                    "variable — bind it with another MATCH instead"
                )
        # a relationship alias bound in the outer MATCH would silently
        # rebind as a FRESH edge inside the sub-frame (decorrelating the
        # predicate) — reject it like a second bound node
        for ed in path.edges:
            if ed.alias and ed.alias in env:
                raise CypherCompileError(
                    f"{what}s may not reference the bound relationship "
                    f"variable {ed.alias!r} — bind it with another "
                    "MATCH instead"
                )
        if path.var or path.shortest or any(
            e.var_length is not None for e in path.edges
        ):
            raise CypherCompileError(
                f"{what}s support fixed-length patterns only"
            )
        mb = env[anchor.alias]
        if mb.kind == "value":
            raise CypherCompileError(
                f"{what} anchor must be a node variable"
            )
        sub_env: dict[str, Binding] = {}
        sub_anchor = C.NodePat(
            alias=anchor.alias,
            labels=list(anchor.labels),
            props=dict(anchor.props),
        )
        # The subquery compiles against its OWN frame — scope the shared
        # variant-helper cache so (a) helper columns created here are
        # injected into sub_df (not deferred onto the main frame, where
        # they'd be unresolvable) and (b) main-frame cache entries aren't
        # reused here against columns that only exist over there.
        saved_shared = self._shared
        saved_pv, saved_ps = self._pending_v, self._pending_s
        self._shared, self._pending_v, self._pending_s = {}, [], []
        try:
            sub_df, left = self._bind_node(None, sub_env, sub_anchor)
            for edge, node in zip(path.edges, path.nodes[1:]):
                sub_df, left = self._hop(sub_df, sub_env, left, edge, node)
            if where is not None:
                pred = self._expr(where, sub_env, as_predicate=True)
                sub_df = self._inject(sub_df).filter(pred)
        finally:
            self._shared = saved_shared
            self._pending_v, self._pending_s = saved_pv, saved_ps
        return sub_df, sub_env[anchor.alias], mb

    def _pattern_semi_join(
        self,
        df: DataFrame,
        env: dict[str, Binding],
        path: C.PathPat,
        negated: bool,
        where: C.Expr | None = None,
    ) -> DataFrame:
        """Existential pattern predicate ``WHERE [NOT] (a)-[:R]->(b)``
        (and the ``EXISTS { … }`` subquery): project the subquery's
        anchor keys and semi-join (anti-join under NOT) the main frame
        on them — exactly how a SQL EXISTS subquery plans, so Catalyst
        keeps the usual broadcast/shuffle choices and the pattern side
        never widens the main row."""
        sub_df, ab, mb = self._subquery_frame(
            env, path, where, "pattern predicate"
        )
        keys = sub_df.select(self._key_col(ab).alias("__pp_key"))
        how = "left_anti" if negated else "left_semi"
        return df.join(keys, self._key_col(mb) == F.col("__pp_key"), how)

    # ------------------------------------------------------------------
    # CALL <procedure>(...) YIELD ... (r14)
    # ------------------------------------------------------------------
    # Registry: lowercase dotted name -> (arg spec, canonical yield
    # columns, builder).  Arg spec entries are (name, kind, default);
    # kind 'int' | 'float' | 'list[str]'; default _REQUIRED = no default.
    _REQUIRED = object()

    # procedures that accept the GDS relationshipWeightProperty
    # projection (trailing string literal in _proc_call) — extend as
    # weighted variants of more operators land
    _WEIGHTED_PROCS = frozenset(
        {"graph.pagerank", "graph.personalizedpagerank", "graph.degree",
         "graph.shortestpaths", "graph.louvain"}
    )
    # procedures whose operators run EXACT BIGINT weight arithmetic
    # (delta-frontier Bellman-Ford, Louvain's integer modularity): a
    # fractional property would silently floor to 0 on the long cast —
    # zero-cost edges, dropped modularity mass — while pageRank/PPR/
    # degree honor doubles through the same syntax (ADVICE r15).  The
    # projection asserts integrality for these at runtime.
    _INTEGER_WEIGHT_PROCS = frozenset(
        {"graph.shortestpaths", "graph.louvain"}
    )
    # per-procedure help notes, appended to every arg-shaped
    # CompileError for that procedure (ADVICE r15: registry defaults
    # that DIVERGE from GDS must be surfaced in the help text, not
    # only in PARITY.md — a ported query is otherwise silently
    # re-scored)
    _PROC_NOTES = {
        "graph.nodesimilarity": (
            "note: defaults topK=20 / upperDegreeCutoff=25 DIVERGE "
            "from GDS (whose cutoff is unbounded); degrees are "
            "recomputed over the cutoff-filtered edge set, so Jaccard "
            "VALUES — not just coverage — differ for super-cutoff "
            "nodes.  Pass a large upperDegreeCutoff for "
            "GDS-equivalent scoring"
        ),
        "graph.linkprediction": (
            "note: defaults topK=50 / maxWedgeDegree=100 bound the "
            "wedge-join candidates (GDS-style cutoff); pass a large "
            "maxWedgeDegree for the uncapped exact run"
        ),
    }

    def _dataset(self, name: str) -> DataFrame:
        """Corpus dataset for the text.*/dedup.*/ann.* procedures —
        a store without datasets compiles to a targeted error, not a
        stack trace."""
        try:
            return self.store.dataset(name)
        except KeyError as ex:
            raise CypherCompileError(
                f"this procedure runs on the '{name}' corpus dataset, "
                f"which the current graph store does not attach: "
                f"{str(ex)}"
            )

    def _proc_registry(
        self, rels: DataFrame | None = None, weight_col: str | None = None
    ):
        from pg_age_digitaltwins_spark.operators import graph_analytics as ga

        def _sim():
            from pg_age_digitaltwins_spark.operators import similarity

            return similarity

        def _txt():
            from pg_age_digitaltwins_spark.operators import text

            return text

        store = self.store
        # the edge set every procedure runs on — _proc_call passes the
        # relTypes-filtered frame for typed-subgraph analytics (and,
        # for _WEIGHTED_PROCS, the weight-projected frame + column)
        relationships = rels if rels is not None else store.relationships
        # store-persisted long-id layout for the wedge family (r16
        # optimization) — only valid when the procedure runs on the
        # UNPROJECTED store edge set (a relTypes filter or weight
        # projection changes the frame; the operators then fall back to
        # the per-query encode)
        vid_kw = (
            {"vid_edges": store.edges_vid, "vid_map": store.vertex_ids}
            if rels is None and weight_col is None
            else {"vid_edges": None, "vid_map": None}
        )

        def _degree():
            # weighted (relationshipWeightProperty) degrees are SUM of
            # edge weights, DOUBLE; unweighted stay exact BIGINT counts
            if weight_col is None:
                o_agg = i_agg = F.count(F.lit(1))
                zero, dtype = F.lit(0), "long"
            else:
                o_agg = i_agg = F.sum(F.col(weight_col).cast("double"))
                zero, dtype = F.lit(0.0), "double"
            out_d = relationships.groupBy(
                F.col("source_id").alias("dt_id")
            ).agg(o_agg.alias("out_degree"))
            in_d = relationships.groupBy(
                F.col("target_id").alias("dt_id")
            ).agg(i_agg.alias("in_degree"))
            return (
                store.twins.select("dt_id")
                .join(out_d, "dt_id", "left")
                .join(in_d, "dt_id", "left")
                .select(
                    "dt_id",
                    F.coalesce("out_degree", zero)
                    .cast(dtype)
                    .alias("out_degree"),
                    F.coalesce("in_degree", zero)
                    .cast(dtype)
                    .alias("in_degree"),
                )
            )

        R = CypherCompiler._REQUIRED
        return {
            # GDS gds.pageRank.stream shape: per-vertex global PageRank
            # (weight_col set = the relationshipWeightProperty path)
            "graph.pagerank": (
                [("iters", "int", 10), ("damping", "float", 0.85)],
                {"node": "dt_id", "rank": "rank"},
                lambda iters, damping: ga.pagerank(
                    store.twins, relationships,
                    iters=iters, damping=damping, weight_col=weight_col,
                    **vid_kw,
                ),
            ),
            # seed-teleport proximity (related-entities primitive)
            "graph.personalizedpagerank": (
                [("seeds", "list[str]", R), ("iters", "int", 5),
                 ("damping", "float", 0.85)],
                {"node": "dt_id", "rank": "rank"},
                lambda seeds, iters, damping: ga.personalized_pagerank(
                    store.twins, relationships, seeds,
                    iters=iters, damping=damping, weight_col=weight_col,
                ),
            ),
            "graph.connectedcomponents": (
                [],
                {"node": "dt_id", "component": "component"},
                lambda: ga.connected_components(
                    store.twins, relationships, **vid_kw
                ),
            ),
            "graph.degree": (
                [],
                {"node": "dt_id", "out_degree": "out_degree",
                 "in_degree": "in_degree"},
                _degree,
            ),
            # global triangle count (degree-ordered orientation)
            "graph.trianglecount": (
                [],
                {"triangles": "n_triangles"},
                lambda: ga.triangle_count(relationships, **vid_kw),
            ),
            # per-node local clustering coefficient (exact integer
            # triangles/wedges; coefficient in floor-div micro units)
            "graph.localclustering": (
                [],
                {"node": "dt_id", "triangles": "triangles",
                 "wedges": "wedges", "lcc_micro": "lcc_micro"},
                lambda: ga.local_clustering(relationships, **vid_kw),
            ),
            # sampled harmonic centrality from a seed set (exact
            # integer 12/d weighting; maxDepth <= 12 per the operator)
            "graph.harmoniccentrality": (
                [("seeds", "list[str]", R), ("maxDepth", "int", 3)],
                {"node": "dt_id", "h12": "h12", "n_reached": "n_reached"},
                lambda seeds, max_depth: ga.harmonic_centrality_sampled(
                    relationships,
                    store.twins.filter(F.col("dt_id").isin(list(seeds)))
                    .select("dt_id"),
                    max_depth=max_depth,
                ),
            ),
            # ---- full whole-graph coverage: every remaining analytics
            # operator an analyst would reach through GDS/AGE procedures
            "graph.scc": (
                [],
                {"node": "dt_id", "component": "scc"},
                lambda: ga.strongly_connected_components(
                    store.twins, relationships, **vid_kw
                ),
            ),
            "graph.labelpropagation": (
                [("iterations", "int", 3)],
                {"node": "dt_id", "label": "label"},
                lambda iters: ga.label_propagation(
                    store.twins, relationships, iterations=iters
                ),
            ),
            "graph.coreness": (
                [("iters", "int", 5)],
                {"node": "dt_id", "coreness": "coreness"},
                lambda iters: ga.coreness(
                    store.twins, relationships, iters=iters
                ),
            ),
            "graph.topologicallevels": (
                [("iters", "int", 8)],
                {"node": "dt_id", "level": "level"},
                lambda iters: ga.topological_levels(
                    store.twins, relationships, iters=iters, **vid_kw
                ),
            ),
            "graph.assortativity": (
                [],
                {"n_edges": "n_edges", "assortativity": "assortativity"},
                lambda: ga.degree_assortativity(relationships),
            ),
            "graph.hits": (
                [("iters", "int", 5)],
                {"node": "dt_id", "authority": "authority", "hub": "hub"},
                lambda iters: ga.hits(
                    store.twins, relationships, iters=iters
                ),
            ),
            "graph.eigenvector": (
                [("iters", "int", 5)],
                {"node": "dt_id", "score": "score"},
                lambda iters: ga.eigenvector_centrality(
                    store.twins, relationships, iters=iters
                ),
            ),
            "graph.closeness": (
                [("seeds", "list[str]", R), ("maxDepth", "int", 3)],
                {"node": "dt_id", "dist_sum": "dist_sum",
                 "n_reached": "n_reached", "closeness": "closeness"},
                lambda seeds, max_depth: ga.closeness_centrality_sampled(
                    relationships,
                    store.twins.filter(F.col("dt_id").isin(list(seeds)))
                    .select("dt_id"),
                    max_depth=max_depth,
                ),
            ),
            "graph.betweenness": (
                [("seeds", "list[str]", R), ("maxDepth", "int", 3)],
                {"node": "dt_id", "betweenness": "betweenness"},
                lambda seeds, max_depth: ga.betweenness_centrality_sampled(
                    relationships,
                    store.twins.filter(F.col("dt_id").isin(list(seeds)))
                    .select("dt_id"),
                    max_depth=max_depth,
                    **vid_kw,
                ),
            ),
            "graph.distancedistribution": (
                [("seeds", "list[str]", R), ("maxDepth", "int", 3)],
                {"depth": "depth", "n_pairs": "n_pairs"},
                lambda seeds, max_depth: ga.distance_distribution(
                    relationships,
                    store.twins.filter(F.col("dt_id").isin(list(seeds)))
                    .select("dt_id"),
                    max_depth=max_depth,
                ),
            ),
            "graph.louvain": (
                [("roundsPerLevel", "int", 4), ("levels", "int", 2)],
                {"node": "dt_id", "community": "community"},
                lambda rpl, lv: ga.louvain_communities(
                    store.twins, relationships,
                    rounds_per_level=rpl, levels=lv,
                    weight_col=weight_col,
                    # endpoint-universe hint only valid on the
                    # UNPROJECTED store edge set (same rule as vid_kw)
                    endpoint_ids=(
                        store.vertex_ids
                        if rels is None and weight_col is None
                        else None
                    ),
                ),
            ),
            "graph.clusteringcoefficient": (
                [],
                {"n_triangles": "n_triangles", "n_triads": "n_triads",
                 "coefficient": "clustering_coefficient"},
                lambda: ga.global_clustering_coefficient(
                    relationships
                ),
            ),
            "graph.kcore": (
                [("k", "int", 2)],
                {"node": "dt_id"},
                lambda k: ga.k_core(relationships, k=k),
            ),
            # r15 (verdict #4): the CAPPED forms are the registry
            # defaults — upperDegreeCutoff / maxWedgeDegree bound the
            # d² candidate terms that blow these plans up at corpus
            # scale (GDS ships the same cutoffs); pass a huge cutoff
            # explicitly to opt into the uncapped exact run
            "graph.nodesimilarity": (
                [("topK", "int", 20), ("upperDegreeCutoff", "int", 25)],
                {"a": "a", "b": "b", "intersection": "inter",
                 "union_size": "union_size", "similarity": "jaccard"},
                lambda top_k, cutoff: ga.node_similarity_jaccard(
                    relationships, top_k=top_k, max_target_degree=cutoff,
                    **vid_kw,
                ),
            ),
            # r15: hop-bounded (weighted) shortest distances from a
            # seed set — the GDS shortestPath/Dijkstra family's
            # distance semantics under a maxDepth bound, DIRECTED over
            # the projected edge set; weights via the
            # relationshipWeightProperty projection (cast to exact
            # BIGINT — the operator's engine-portable arithmetic),
            # hop distances (w=1) otherwise
            "graph.shortestpaths": (
                [("seeds", "list[str]", R), ("maxDepth", "int", 4)],
                {"node": "dt_id", "dist": "dist"},
                lambda seeds, max_depth: ga.weighted_shortest_paths(
                    relationships.select(
                        "source_id",
                        "target_id",
                        (
                            F.col(weight_col).cast("long")
                            if weight_col
                            else F.lit(1).cast("long")
                        ).alias("weight"),
                    ),
                    store.twins.filter(F.col("dt_id").isin(list(seeds)))
                    .select("dt_id"),
                    iters=max_depth,
                ),
            ),
            "graph.linkprediction": (
                [("topK", "int", 50), ("maxWedgeDegree", "int", 100)],
                {"a": "a", "b": "b",
                 "common_neighbors": "common_neighbors",
                 "pref_attach": "pref_attach"},
                lambda top_k, cap: ga.link_prediction(
                    relationships, k=top_k, max_wedge_degree=cap,
                    **vid_kw,
                ),
            ),
            # ---- r16: the LLM-data-pipeline library through the CALL
            # surface — text.* / dedup.* / ann.* run on the corpus
            # datasets the loader attaches (documents / embeddings),
            # with the same arg-spec/YIELD/charge treatment as the
            # graph procedures.  A store without datasets raises a
            # targeted error at build time (store.dataset()).
            "dedup.minhashverified": (
                [("threshold", "float", 0.5), ("n", "int", 3)],
                {"doc_a": "doc_a", "doc_b": "doc_b", "jaccard": "jaccard"},
                lambda threshold, n: _sim().minhash_lsh_verified_pairs(
                    self._dataset("documents"), n=n, threshold=threshold,
                ),
            ),
            "dedup.exactgroups": (
                [],
                {"fp": "fp", "n_docs": "n_docs",
                 "keep_doc_id": "keep_doc_id"},
                lambda: _txt().exact_dup_groups(
                    self._dataset("documents")
                ),
            ),
            "ann.cosine": (
                [("queryId", "int", R), ("k", "int", 10)],
                {"vec_id": "vec_id", "sim": "sim"},
                lambda query_id, k: _sim().knn_brute_force(
                    self._dataset("embeddings"), query_id=query_id, k=k,
                ),
            ),
            "ann.hamming": (
                [("queryId", "int", R), ("k", "int", 10),
                 ("refineK", "int", 50)],
                {"vec_id": "vec_id", "sim": "sim"},
                lambda query_id, k, refine_k: _sim().ann_hamming_search(
                    self._dataset("embeddings"),
                    query_id=query_id, k=k, refine_k=refine_k,
                ),
            ),
            "text.profile": (
                [],
                {"column": "column", "n_null": "n_null",
                 "n_distinct": "n_distinct", "min_value": "min_value",
                 "max_value": "max_value"},
                lambda: _txt().profile_columns(
                    self._dataset("documents")
                ),
            ),
            "text.quality": (
                [],
                {"doc": "doc_id", "mean_word_len": "mean_word_len",
                 "punct_ratio": "punct_ratio",
                 "stopword_ratio": "stopword_ratio"},
                lambda: _txt().quality_scores(
                    self._dataset("documents")
                ),
            ),
            "text.langid": (
                [],
                {"doc": "doc_id", "pred_lang": "pred_lang"},
                lambda: _txt().lang_id(self._dataset("documents")),
            ),
            "text.fingerprints": (
                [],
                {"doc": "doc_id", "fp": "fp"},
                lambda: _txt().fingerprints(self._dataset("documents")),
            ),
            "dedup.levenshteinverified": (
                [("maxDist", "int", 5), ("n", "int", 3)],
                {"doc_a": "doc_a", "doc_b": "doc_b",
                 "lev_dist": "lev_dist"},
                lambda max_dist, n: _sim().levenshtein_verified_pairs(
                    self._dataset("documents"), max_dist=max_dist, n=n,
                ),
            ),
        }

    def _proc_arg(self, e, kind: str, name: str, proc: str):
        """Plan-time literal argument: number/string literals and
        string-list literals only (procedure config, never row data)."""
        def bad(got: str):
            return CypherCompileError(
                f"CALL {proc}(...): argument '{name}' must be a literal "
                f"{kind}, got {got}"
            )

        if kind == "list[str]":
            if not isinstance(e, C.ListLit):
                raise bad(type(e).__name__)
            out = []
            for item in e.items:
                if not (isinstance(item, C.Lit) and item.kind == "string"):
                    raise bad("a non-string list element")
                out.append(item.value)
            return out
        if not (isinstance(e, C.Lit) and e.kind == "number"):
            raise bad(type(e).__name__)
        return int(e.value) if kind == "int" else float(e.value)

    def _proc_call(
        self,
        df: DataFrame | None,
        env: dict[str, Binding],
        clause: C.ProcCallClause,
    ) -> DataFrame:
        """``CALL ns.proc(args) YIELD col [AS alias], ...`` — r14
        language extension (the GDS / AGE procedure-call shape): a
        read-only analytics procedure over the loaded graph becomes
        the query's source frame; the yielded columns bind as value
        variables for WHERE/WITH/RETURN.

        Standalone-only by design: row-driven per-input invocation is
        the CALL-subquery form's job, and the exposed procedures are
        whole-graph programs whose results a user filters/joins AFTER
        (`CALL graph.pageRank(5) YIELD node, rank RETURN ... ORDER BY
        rank DESC LIMIT 10`).  100 TB shape: identical to the
        underlying operator's (documented on each — superstep joins,
        broadcast-gated hints, lazy lineage cuts); YIELD pruning
        happens plan-side so unused yield columns are column-pruned
        out of the operator's final projection by Catalyst."""
        key = clause.name.lower()
        if df is not None or env:
            raise CypherCompileError(
                f"CALL {clause.name}(...) must be the FIRST clause — "
                "procedures are whole-graph programs; filter or join "
                "their YIELDed result afterwards (for row-driven "
                "invocation use a CALL {{ ... }} subquery)"
            )
        registry = self._proc_registry()
        if key not in registry:
            raise CypherCompileError(
                f"Unknown procedure {clause.name}() — available: "
                + ", ".join(sorted(registry))
            )
        arg_spec, canon, build = registry[key]
        # universal trailing projection arguments (either order, both
        # optional, always AFTER the positional spec args):
        #  * relTypes (r14, GDS relationship-type projection): a FINAL
        #    string-list literal in a position the spec doesn't type as
        #    a list restricts the procedure to edges of those
        #    relationship names.  Vertices are NOT filtered (GDS-style
        #    projection: isolated nodes keep base ranks / singleton
        #    components).
        #  * relationshipWeightProperty (r15, the GDS weighted
        #    projection): a FINAL string literal in a non-string slot
        #    names a numeric relationship property; each edge carries
        #    that weight (missing/non-numeric → 1.0, the GDS
        #    defaultValue convention; negative → runtime error).  Only
        #    _WEIGHTED_PROCS accept it.
        clause_args = list(clause.args)
        rel_types: list[str] | None = None
        weight_prop: str | None = None
        for _ in range(2):
            if (
                rel_types is None
                and clause_args
                and isinstance(clause_args[-1], C.ListLit)
            ):
                slot = len(clause_args) - 1
                if slot >= len(arg_spec) or arg_spec[slot][1] != "list[str]":
                    rel_types = self._proc_arg(
                        clause_args.pop(), "list[str]", "relTypes",
                        clause.name,
                    )
                    if not rel_types:
                        raise CypherCompileError(
                            f"CALL {clause.name}(...): relTypes must name "
                            "at least one relationship type"
                        )
                    continue
            if (
                weight_prop is None
                and clause_args
                and isinstance(clause_args[-1], C.Lit)
                and clause_args[-1].kind == "string"
            ):
                slot = len(clause_args) - 1
                if slot >= len(arg_spec) or arg_spec[slot][1] != "str":
                    if key not in CypherCompiler._WEIGHTED_PROCS:
                        raise CypherCompileError(
                            f"CALL {clause.name}(...): "
                            "relationshipWeightProperty is only supported "
                            "for: "
                            + ", ".join(sorted(CypherCompiler._WEIGHTED_PROCS))
                        )
                    weight_prop = clause_args.pop().value
                    continue
            break
        if rel_types is not None or weight_prop is not None:
            from pg_age_digitaltwins_spark.store.graph_store import with_vdoc

            rels_frame = self.store.relationships
            if rel_types is not None:
                rels_frame = rels_frame.filter(F.col("name").isin(rel_types))
            weight_col = None
            if weight_prop is not None and key == "graph.louvain":
                # Louvain drops self-loops; drop them before the weight
                # check so it sees exactly the edges the operator reads
                # (over a LocalRelation the optimizer evaluates the
                # check before any later filter)
                rels_frame = rels_frame.filter(
                    F.col("source_id") != F.col("target_id")
                )
            if weight_prop is not None:
                # missing property -> 1.0 (the GDS defaultValue
                # convention); DEFINED-but-non-numeric and negative
                # values are runtime errors, never silent defaults
                v = J.vget(F.col("vdoc"), [weight_prop])
                num = J.num_value(F.col("vdoc"), [weight_prop])
                bad_type = J.is_defined_of(v) & num.isNull()
                raw_w = F.coalesce(num, F.lit(1.0))
                pfx = f"relationshipWeightProperty '{weight_prop}': "
                ok = (~bad_type) & (raw_w >= 0)
                err = F.when(
                    bad_type,
                    F.concat(
                        F.lit(pfx + "non-numeric value of type "),
                        F.coalesce(
                            J.type_of(F.col("vdoc"), [weight_prop]),
                            F.lit("?"),
                        ),
                    ),
                ).when(
                    raw_w < 0,
                    F.concat(
                        F.lit(pfx + "negative edge weight "),
                        raw_w.cast("string"),
                    ),
                ).otherwise(
                    F.concat(
                        F.lit(
                            pfx + "non-integral edge weight "
                        ),
                        raw_w.cast("string"),
                        F.lit(
                            f" ({clause.name} runs exact BIGINT weight "
                            "arithmetic — a fractional weight would "
                            "silently floor; scale the property to "
                            "integers first)"
                        ),
                    )
                )
                if key in CypherCompiler._INTEGER_WEIGHT_PROCS:
                    # ADVICE r15: the long-cast operators floored
                    # fractional weights to 0 silently — assert
                    # integrality instead
                    ok = ok & (raw_w == F.floor(raw_w))
                wcol = F.when(F.assert_true(ok, err).isNull(), raw_w)
                rels_frame = with_vdoc(rels_frame).withColumn("__w", wcol)
                weight_col = "__w"
            registry = self._proc_registry(rels_frame, weight_col=weight_col)
            arg_spec, canon, build = registry[key]
        note = CypherCompiler._PROC_NOTES.get(key)
        note_sfx = f"  [{note}]" if note else ""
        if len(clause_args) > len(arg_spec):
            raise CypherCompileError(
                f"CALL {clause.name}(...) takes at most {len(arg_spec)} "
                f"argument(s) ({', '.join(a for a, _, _ in arg_spec)}) "
                f"plus optional trailing relTypes list / "
                f"relationshipWeightProperty string projections, "
                f"got {len(clause_args)}" + note_sfx
            )
        vals = []
        for i, (aname, akind, adefault) in enumerate(arg_spec):
            if i < len(clause_args):
                vals.append(
                    self._proc_arg(clause_args[i], akind, aname, clause.name)
                )
            elif adefault is CypherCompiler._REQUIRED:
                raise CypherCompileError(
                    f"CALL {clause.name}(...): argument '{aname}' is "
                    "required" + note_sfx
                )
            else:
                vals.append(adefault)
        # every list[str] procedure argument is a SEED-NODE list:
        # validate membership against the twins table (GDS raises on an
        # unknown source node; silently dropping a typo'd seed made a
        # misspelling indistinguishable from 'no paths found' — review
        # r15).  One seeds-sized point lookup — dt_id clustering prunes
        # the scan, and seeds are user-query-sized, never corpus-sized.
        for (aname, akind, _), val in zip(arg_spec, vals):
            if akind == "list[str]" and val:
                found = {
                    r["dt_id"]
                    for r in self.store.twins.filter(
                        F.col("dt_id").isin(list(val))
                    )
                    .select("dt_id")
                    .collect()
                }
                missing = [x for x in val if x not in found]
                if missing:
                    raise CypherCompileError(
                        f"CALL {clause.name}(...): argument '{aname}' "
                        f"names unknown twin id(s): {', '.join(missing)}"
                    )
        result = build(*vals)
        out_cols = []
        seen: set[str] = set()
        for col, alias in clause.yields:
            if col not in canon:
                raise CypherCompileError(
                    f"CALL {clause.name}(...) yields "
                    f"{', '.join(canon)} — '{col}' is not one of them"
                    + note_sfx
                )
            out = alias or col
            if out in seen:
                raise CypherCompileError(
                    f"Duplicate YIELD name '{out}' in CALL {clause.name}(...)"
                )
            seen.add(out)
            cname = f"__y_{out}"
            out_cols.append(F.col(canon[col]).alias(cname))
            env[out] = Binding(out, "value", cname)
        out = result.select(*out_cols)
        if clause.where is not None:
            out = out.filter(self._expr(clause.where, env))
        return out

    def _call(
        self,
        df: DataFrame | None,
        env: dict[str, Binding],
        clause: C.CallClause,
    ) -> DataFrame:
        """``[OPTIONAL] CALL { [WITH x] ... RETURN ... }`` subquery.

        Uncorrelated (no importing WITH): the inner query compiles
        independently (its ORDER BY/SKIP/LIMIT are global — it runs
        once) and cross-joins onto the main frame; the usual case is a
        1-row aggregate, which the nested-loop product broadcasts.

        Correlated (``WITH x``): the subquery compiles as its own
        mini-query anchored at a FRESH scan bound to the imported
        variable, then joins back on the anchor's identity key — the
        correlated-lateral plan shape.  Aggregating subqueries
        pre-aggregate per anchor (entity-keyed WITH) and LEFT-join so
        anchors with no matches still get their count()=0 row IFF every
        item aggregates (grouped aggregation over no rows yields no
        rows, matching per-row execution).  Non-aggregating subqueries
        inner-join (zero inner rows drop the input row; OPTIONAL CALL
        left-joins instead), and their ORDER BY/SKIP/LIMIT apply PER
        ANCHOR via a row_number window — `CALL { WITH c MATCH ...
        RETURN o ORDER BY o.x LIMIT 1 }` is the per-entity top-k."""
        inner = clause.query
        ret_names = [
            self._item_name(it, i) for i, it in enumerate(inner.ret)
        ]
        for nm in ret_names:
            if nm in env:
                raise CypherCompileError(
                    f"CALL subquery returns {nm!r}, which is already bound "
                    "in the outer query"
                )
        if not clause.imports:
            sub = CypherCompiler(self.store)
            sub.cartesian_guard = False
            sub_df = sub._single(inner)
            self.cartesian_products += sub.cartesian_products
            dtypes = dict(sub_df.dtypes)
            for nm in ret_names:
                env[nm] = Binding(nm, "value", nm)
                dt2 = dtypes.get(nm)
                if dt2 == "variant":
                    self._value_variant.add(nm)
                elif dt2 in ("date", "timestamp", "timestamp_ntz") or (
                    dt2 or ""
                ).startswith("interval"):
                    self._value_temporal[nm] = dt2
            if df is None:
                return sub_df
            self.cartesian_products += 1
            if clause.optional:
                return df.join(sub_df, F.lit(True), "left")
            return df.crossJoin(sub_df)
        if df is None:
            raise CypherCompileError(
                "a correlated CALL subquery needs a MATCH before it"
            )
        if len(clause.imports) != 1:
            raise CypherCompileError(
                "CALL imports exactly one bound entity variable "
                "(import one anchor; bind the rest inside the subquery)"
            )
        imp = clause.imports[0]
        mb = env.get(imp)
        if mb is None:
            raise CypherCompileError(
                f"CALL imports {imp!r}, which is not bound by MATCH"
            )
        if mb.kind == "value":
            raise CypherCompileError(
                "CALL can only import a node/relationship/model "
                f"variable; {imp!r} is a projected value"
            )
        sub = CypherCompiler(self.store)
        sub.cartesian_guard = self.cartesian_guard
        sub_env: dict[str, Binding] = {}
        # seed the subquery frame to MATCH the imported binding's kind —
        # a twin seed for a rel/model import would join relationship_id
        # or model id against twin dt_id and silently return nothing
        if mb.kind == "rel":
            sub_env[imp] = Binding(imp, "rel", imp, key_col="relationship_id")
            sub_df = sub._rels.alias(imp)
        else:
            seed = C.NodePat(
                alias=imp,
                labels=(["Model"] if mb.kind == "model" else []),
                props={},
            )
            sub_df, _ = sub._bind_node(None, sub_env, seed)
        for cl in inner.clauses:
            if isinstance(cl, C.MatchClause):
                sub_df = sub._match(sub_df, sub_env, cl)
            elif isinstance(cl, C.UnwindClause):
                sub_df = sub._unwind(sub_df, sub_env, cl)
            elif isinstance(cl, C.WithClause):
                sub_df, sub_env = sub._with(sub_df, sub_env, cl)
                if imp not in sub_env or sub_env[imp].kind == "value":
                    raise CypherCompileError(
                        f"the imported variable {imp!r} must survive "
                        "every WITH inside the CALL subquery"
                    )
            else:
                raise CypherCompileError(
                    "CALL subqueries may not nest further CALLs"
                )
        self.cartesian_products += sub.cartesian_products
        has_agg = any(C.has_aggregate(it.expr) for it in inner.ret)
        all_agg = bool(inner.ret) and all(
            C.has_aggregate(it.expr) for it in inner.ret
        )
        anchor_item = C.ReturnItem(C.Var(imp), None)
        wc = C.WithClause(
            [anchor_item] + list(inner.ret), distinct=inner.distinct
        )
        if has_agg:
            if (
                inner.order_by
                or inner.skip is not None
                or inner.limit is not None
            ):
                raise CypherCompileError(
                    "ORDER BY/SKIP/LIMIT are not supported in an "
                    "aggregating CALL subquery"
                )
            sub_out, sub_env2 = sub._with(sub_df, sub_env, wc)
        else:
            sub_out, sub_env2 = self._call_project(
                sub, sub_df, sub_env, inner, imp, ret_names
            )
        key_sub = sub._key_col(sub_env2[imp])
        # project to the join key + returned columns only — the
        # anchor's own frame columns would collide with the main frame
        keep_cols: list[Column] = [key_sub.alias("__call_key")]
        dtypes = dict(sub_out.dtypes)
        main_cols = set(df.columns)
        for nm in ret_names:
            b2 = sub_env2[nm]
            if b2.kind == "value":
                if nm in main_cols:
                    raise CypherCompileError(
                        f"CALL subquery returns {nm!r}, which collides "
                        "with a column of the outer frame — alias it"
                    )
                keep_cols.append(F.col(nm))
                dt2 = dtypes.get(nm)
                if dt2 == "variant":
                    self._value_variant.add(nm)
                elif dt2 in ("date", "timestamp", "timestamp_ntz") or (
                    dt2 or ""
                ).startswith("interval"):
                    self._value_temporal[nm] = dt2
                env[nm] = Binding(nm, "value", nm)
            else:
                # returned entity: carry its prefixed flat columns
                for fc in self._opt_frame_cols(b2.kind):
                    keep_cols.append(F.col(f"{b2.df_alias}__{fc}"))
                env[nm] = b2
        sub_keyed = sub_out.select(*keep_cols)
        how = (
            "left"
            if (clause.optional or all_agg)
            else "inner"
        )
        out = df.join(
            sub_keyed, self._key_col(mb) == F.col("__call_key"), how
        ).drop("__call_key")
        if how == "left" and all_agg:
            # ungrouped-aggregate semantics for absent anchors:
            # count() = 0 / sum() = 0; other aggregates stay NULL
            for it, nm in zip(inner.ret, ret_names):
                e2 = it.expr
                if isinstance(e2, C.Func) and e2.name in ("count", "sum"):
                    out = out.withColumn(
                        nm, F.coalesce(F.col(nm), F.lit(0))
                    )
        return out

    def _call_project(
        self,
        sub: "CypherCompiler",
        sub_df: DataFrame,
        sub_env: dict[str, Binding],
        inner: C.SingleQuery,
        imp: str,
        ret_names: list[str],
    ) -> tuple[DataFrame, dict[str, Binding]]:
        """Non-aggregating correlated CALL projection: [anchor] +
        RETURN items, with PER-ANCHOR ORDER BY / SKIP / LIMIT via a
        row_number window (openCypher CALL executes once per input
        row, so its paging is per anchor, never global).  Order keys
        compile against the PRE-projection frame — they may reference
        variables the RETURN drops — typed via _order_expr."""
        items = [(imp, C.Var(imp))] + [
            (nm, it.expr) for nm, it in zip(ret_names, inner.ret)
        ]
        cols: list[Column] = []
        proj_names: list[str] = []
        env2: dict[str, Binding] = {}
        for nm, expr in items:
            b = (
                sub_env.get(expr.name)
                if isinstance(expr, C.Var)
                else None
            )
            if b is not None and b.kind != "value" and not b.virtual:
                prefix = f"__o_{nm}"
                for fc in self._opt_frame_cols(b.kind):
                    cols.append(sub._col(b, fc).alias(f"{prefix}__{fc}"))
                    proj_names.append(f"{prefix}__{fc}")
                key = "relationship_id" if b.kind == "rel" else "dt_id"
                env2[nm] = Binding(nm, b.kind, prefix, key_col=key)
            else:
                cols.append(sub._expr(expr, sub_env).alias(nm))
                proj_names.append(nm)
                env2[nm] = Binding(nm, "value", nm)
        paged = (
            inner.order_by
            or inner.skip is not None
            or inner.limit is not None
        )
        if inner.distinct and paged:
            raise CypherCompileError(
                "RETURN DISTINCT with ORDER BY/SKIP/LIMIT inside CALL "
                "is not supported — deduplicate outside the subquery"
            )
        base = sub._inject(sub_df).select("*", *cols)
        if paged:
            from pyspark.sql import Window

            okeys: list[Column] = []
            for expr, asc in inner.order_by or []:
                if isinstance(expr, C.Var) and expr.name in env2:
                    if env2[expr.name].kind != "value":
                        raise CypherCompileError(
                            "ORDER BY a whole entity inside CALL is "
                            "not supported — order by a property"
                        )
                    c2 = F.col(expr.name)
                else:
                    c2 = sub._order_expr(
                        expr, sub_env, C.SingleQuery(clauses=[], ret=[]), []
                    )[0]
                okeys.append(c2.asc() if asc else c2.desc())
            base = sub._inject(base)
            rn = F.row_number().over(
                Window.partitionBy(sub._key_col(env2[imp])).orderBy(
                    *(okeys or [F.lit(1)])
                )
            )
            lo = int(inner.skip or 0)
            keep = F.col("__call_rn") > lo
            if inner.limit is not None:
                keep = keep & (F.col("__call_rn") <= lo + int(inner.limit))
            base = base.withColumn("__call_rn", rn).filter(keep)
        out = base.select(*proj_names)
        if inner.distinct:
            out = out.dropDuplicates(self._distinct_keys(out, env2))
        return out, env2

    def _count_sub_join(
        self,
        df: DataFrame,
        env: dict[str, Binding],
        sub: C.CountSub,
    ) -> tuple[DataFrame, str]:
        """``COUNT { … }``: pre-aggregate the subquery per anchor key
        and left-join the counts onto the main frame (missing anchors
        count 0) — the correlated-scalar-COUNT plan shape.  Returns the
        augmented frame and the count column's name."""
        sub_df, ab, mb = self._subquery_frame(
            env, sub.path, sub.where, "COUNT subquery"
        )
        self._anon += 1
        # NOT "__cs<n>" — that prefix belongs to the schema-helper cache
        colname = f"__cnt{self._anon}"
        cnt = sub_df.groupBy(self._key_col(ab).alias("__cs_key")).agg(
            F.count(F.lit(1)).alias(colname)
        )
        df = (
            df.join(cnt, self._key_col(mb) == F.col("__cs_key"), "left")
            .drop("__cs_key")
            .withColumn(colname, F.coalesce(F.col(colname), F.lit(0)))
        )
        return df, colname

    def _replace_count_subs(
        self, df: DataFrame, env: dict[str, Binding], e
    ):
        """Walk an expression tree; each COUNT { … } node joins its
        pre-aggregated counts onto the frame and is replaced by a Var
        over the new column (generic dataclass walk threading df)."""
        import dataclasses as _dc

        if isinstance(e, C.CountSub):
            df, col = self._count_sub_join(df, env, e)
            env[col] = Binding(col, "value", col)
            return df, C.Var(col)
        if isinstance(e, (C.PatternPred, C.PathPat)):
            return df, e  # never descend into pattern structure
        if _dc.is_dataclass(e) and not isinstance(e, type):
            changes = {}
            for f in _dc.fields(e):
                v = getattr(e, f.name)
                if isinstance(v, (list, tuple)):
                    new_items = []
                    dirty = False
                    for item in v:
                        if isinstance(item, tuple):
                            nt = []
                            for s in item:
                                if _dc.is_dataclass(s) and not isinstance(s, type):
                                    df, s2 = self._replace_count_subs(df, env, s)
                                    dirty = dirty or s2 is not s
                                    nt.append(s2)
                                else:
                                    nt.append(s)
                            new_items.append(tuple(nt))
                        elif _dc.is_dataclass(item) and not isinstance(item, type):
                            df, ni = self._replace_count_subs(df, env, item)
                            dirty = dirty or ni is not item
                            new_items.append(ni)
                        else:
                            new_items.append(item)
                    if dirty:
                        changes[f.name] = type(v)(new_items)
                elif _dc.is_dataclass(v) and not isinstance(v, type):
                    df, nv = self._replace_count_subs(df, env, v)
                    if nv is not v:
                        changes[f.name] = nv
            return df, (_dc.replace(e, **changes) if changes else e)
        return df, e

    def _apply_scan_preds(
        self, scan: DataFrame, alias: str | None, b: Binding
    ) -> DataFrame:
        """Apply WHERE conjuncts pushed down to this alias's scan."""
        preds = self._scan_preds.pop(alias, None) if alias else None
        if not preds:
            return scan
        env1 = {alias: b}
        pred = self._expr(preds[0], env1, as_predicate=True)
        for c in preds[1:]:
            pred = pred & self._expr(c, env1, as_predicate=True)
        return self._inject(scan).filter(pred)

    def _hop(
        self,
        df: DataFrame,
        env: dict[str, Binding],
        left: Binding,
        edge: C.EdgePat,
        node: C.NodePat,
    ) -> tuple[DataFrame, Binding]:
        if edge.var_length is not None:
            return self._var_hop(df, env, left, edge, node)
        rel_df, rel_kind = self._edge_frame(
            edge, incoming=edge.direction == "<-"
        )
        e_alias = edge.alias or self._anon_alias()
        e = Binding(
            edge.alias or "", "rel", e_alias, key_col="relationship_id"
        )
        # path accessors (nodes/relationships over `p = ...`) read the
        # hop's edge binding; _match clears this per path
        self._hop_edges.append((e, rel_kind))
        if edge.alias:
            if edge.alias in env:
                raise CypherCompileError(f"Duplicate edge alias {edge.alias!r}")
            env[edge.alias] = e
        rel = rel_df.alias(e_alias)
        for key, lit in edge.props.items():
            rel = rel.filter(self._prop_eq(e_alias, "rel", key, lit))
        rel = self._apply_scan_preds(rel, edge.alias, e)
        lcol = self._key_col(left)
        src = F.col(f"{e_alias}.source_id")
        dst = F.col(f"{e_alias}.target_id")
        if edge.direction == "->":
            join_on, far = src == lcol, dst
            far_name = "target_id"
        elif edge.direction == "<-":
            join_on, far = dst == lcol, src
            far_name = "source_id"
        else:  # undirected
            join_on, far = (src == lcol) | (dst == lcol), None
            far_name = None
        df = df.join(rel, join_on)
        existing = env.get(node.alias) if node.alias else None
        if existing is not None:
            t = existing
            if far is None:
                cond = (dst == F.col(f"{t.df_alias}.dt_id")) | (
                    src == F.col(f"{t.df_alias}.dt_id")
                )
            else:
                cond = far == F.col(f"{t.df_alias}.dt_id")
            df = self._apply_node_props(df.filter(cond), t, node)
            return df, t
        frame, kind = self._node_frame(node)
        if rel_kind == "model_edge" and "Model" not in node.labels:
            # model-edge endpoints are always Model vertices: an unlabeled
            # far node must bind against the models frame (AGE matches any
            # vertex label; our only model-edge endpoints are models), and
            # join elimination is NOT sound here — _extends targets are not
            # RI-enforced against the models table the way twin
            # relationships are against twins.
            frame, kind = self._models, "model"
        if (
            rel_kind == "rel"
            and node.alias is None
            and not node.props
            and kind == "twin"
            and far_name is not None
        ):
            # graph-aware join elimination: an anonymous, predicate-free
            # middle node is pure existence checking — dt_id is a key
            # and the store enforces referential integrity (delete edge
            # guards, import endpoint validation), so the twin join is
            # 1:1 and droppable; the next hop anchors on the edge's far
            # column (same optimization as the ADT QL compiler).
            return df, Binding("", "twin", e_alias, key_col=far_name, virtual=True)
        t_alias = node.alias or self._anon_alias()
        t = Binding(node.alias or "", kind, t_alias)
        if node.alias:
            env[node.alias] = t
        if kind == "twin" and (
            node.props or (node.alias and self._scan_preds.get(node.alias))
        ):
            # predicate-bearing hop target: plain frame so the filtered
            # leg shuffles through a measurable exchange and AQE can
            # demote the join to broadcast (see GraphStore.twins_adaptive_v)
            frame = self._twins_adaptive
        scan = self._apply_node_props_scan(frame.alias(t_alias), t_alias, kind, node)
        scan = self._apply_scan_preds(scan, node.alias, t)
        tcol = F.col(f"{t_alias}.dt_id")
        if far is None:
            cond = ((src == lcol) & (dst == tcol)) | ((dst == lcol) & (src == tcol))
            # re-filter full condition (the earlier one-sided join kept both)
            df = df.join(scan, cond)
        else:
            df = df.join(scan, far == tcol)
        return df, t

    def _edge_frame(
        self, edge: C.EdgePat, incoming: bool = False
    ) -> tuple[DataFrame, str]:
        labels = edge.labels
        if labels and set(labels) <= {"_extends", "_hasComponent"}:
            me = self.store.model_edges.select(
                F.concat(F.col("src"), F.lit("\x00"), F.col("dst")).alias("relationship_id"),
                F.col("src").alias("source_id"),
                F.col("dst").alias("target_id"),
                F.col("kind").alias("name"),
                F.lit(None).cast("string").alias("etag"),
                F.lit(None).cast("string").alias("doc"),
            )
            me = me.withColumn("vdoc", F.try_parse_json(F.col("doc")))
            if len(labels) == 1:
                me = me.filter(F.col("name") == labels[0])
            else:
                me = me.filter(F.col("name").isin(labels))
            return me, "model_edge"
        rel = self._rels_in if incoming else self._rels
        if len(labels) == 1:
            rel = rel.filter(F.col("name") == labels[0])
        elif len(labels) > 1:
            rel = rel.filter(F.col("name").isin(labels))
        return rel, "rel"

    # ------------------------------------------------------------------
    # variable-length paths (C10)
    # ------------------------------------------------------------------
    def _unknown_var(self, name: str) -> "CypherCompileError":
        if name in self._vlen_aliases:
            return CypherCompileError(
                f"{name!r} is a variable-length relationship alias — "
                "openCypher binds it to a LIST of relationships, which "
                "this engine does not materialize; use a path variable "
                "(p = ...) with length(p)/cost(p), or a fixed-length "
                "pattern to reference individual relationships"
            )
        return CypherCompileError(f"Unknown variable {name!r}")

    def _edge_base(self, edge: C.EdgePat) -> DataFrame:
        """Edge frame for var-length traversal with the pattern's prop
        map applied PER EDGE (openCypher semantics: ``[r:T*1..3
        {w: 1}]`` constrains every traversed relationship) — before
        r13 the prop map on a var-length edge was silently IGNORED,
        which is a wrong answer, not a missing feature."""
        if edge.alias:
            self._vlen_aliases.add(edge.alias)
        base_rel, _ = self._edge_frame(edge)
        if edge.props:
            al = self._anon_alias()
            base_rel = base_rel.alias(al)
            for key, lit in edge.props.items():
                base_rel = base_rel.filter(self._prop_eq(al, "rel", key, lit))
        return base_rel

    def _var_hop(
        self,
        df: DataFrame,
        env: dict[str, Binding],
        left: Binding,
        edge: C.EdgePat,
        node: C.NodePat,
    ) -> tuple[DataFrame, Binding]:
        if edge.weight is not None:
            raise CypherCompileError(
                "WEIGHT is only supported inside shortestPath(...)"
            )
        lo, hi = edge.var_length
        hi = min(hi if hi is not None else MAX_VAR_LENGTH, MAX_VAR_LENGTH)
        if lo < 0 or hi < lo:
            raise CypherCompileError(f"Bad variable-length bounds [*{lo}..{hi}]")
        base_rel = self._edge_base(edge)
        base = base_rel.select(
            F.col("source_id").alias("src"), F.col("target_id").alias("dst")
        )
        if edge.direction == "<-":
            base = base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        elif edge.direction == "--":
            base = base.unionByName(
                base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        base = base.distinct()
        # Iterative BFS expansion, SEEDED from the bound start-node leg:
        # the depth-1 frontier is semi-joined against the ids the left
        # alias can actually take (its scan already carries prop-map /
        # IS_OF_MODEL predicates), so each depth expands only paths
        # reachable from real start nodes.  Unseeded, every depth
        # materializes the graph-wide k-hop closure — harmless for a
        # literal point start (Catalyst's constraint propagation seeds
        # it implicitly) but the classic traversal scale-killer for a
        # model-filtered start set at 100×.  ``localCheckpoint`` every
        # 3 depths cuts the self-join lineage the same way the
        # graph_analytics supersteps do — BOTH the frontier and the
        # accumulated union are cut together: checkpointing only the
        # frontier leaves the union holding pre- and post-checkpoint
        # references to the same attributes, which breaks analysis
        # downstream (NoSuchElementException: key not found) when the
        # pair set is joined back to the start leg.
        start_ids = df.select(
            self._key_col(left).alias("src")
        ).distinct()
        seeded = base.join(start_ids, "src", "left_semi")
        frontier = seeded
        acc = None
        if lo == 0:
            # zero-length path: every node reaches itself (openCypher
            # ``[*0..n]`` includes the start node; endpoint filters
            # still apply through the node-scan joins below)
            acc = self._twins.select(
                F.col("dt_id").alias("src"), F.col("dt_id").alias("dst")
            )
        if lo <= 1 and hi >= 1:
            acc = seeded if acc is None else acc.unionByName(seeded)
        for depth in range(2, hi + 1):
            frontier = (
                frontier.alias("f")
                .join(base.alias("b"), F.col("f.dst") == F.col("b.src"))
                .select(F.col("f.src").alias("src"), F.col("b.dst").alias("dst"))
                .distinct()
            )
            if depth >= lo:
                acc = frontier if acc is None else acc.unionByName(frontier)
            if depth % 3 == 0 and depth < hi:
                frontier = frontier.localCheckpoint(eager=False)
                if acc is not None:
                    acc = acc.localCheckpoint(eager=False)
        pairs = (acc if acc is not None else seeded.limit(0)).distinct()
        p_alias = self._anon_alias()
        pairs = pairs.alias(p_alias)
        df = df.join(
            pairs, F.col(f"{p_alias}.src") == self._key_col(left)
        )
        existing = env.get(node.alias) if node.alias else None
        if existing is not None:
            df = df.filter(
                F.col(f"{p_alias}.dst") == F.col(f"{existing.df_alias}.dt_id")
            )
            return self._apply_node_props(df, existing, node), existing
        frame, kind = self._node_frame(node)
        if kind == "twin" and node.props:
            # predicate-bearing traversal endpoint: plain frame so AQE
            # can broadcast the filtered leg (see twins_adaptive_v)
            frame = self._twins_adaptive
        t_alias = node.alias or self._anon_alias()
        t = Binding(node.alias or "", kind, t_alias)
        if node.alias:
            env[node.alias] = t
        scan = self._apply_node_props_scan(frame.alias(t_alias), t_alias, kind, node)
        df = df.join(scan, F.col(f"{p_alias}.dst") == F.col(f"{t_alias}.dt_id"))
        return df, t

    def _shortest(
        self, df: DataFrame, env: dict[str, Binding], left: Binding, path: C.PathPat
    ):
        """``[p =] shortestPath((a)-[*lo..hi]->(b))`` — BFS that keeps
        the MINIMUM depth per (src, dst) pair: depth-d pairs join in
        only if no shallower depth found them (left-anti against the
        accumulated set), so one row per endpoint pair with its
        shortest length — exactly openCypher's single-shortest-path
        contract projected to endpoints + length.  Same seeding /
        lineage-cut discipline as the plain variable-length hop."""
        if len(path.edges) != 1 or len(path.nodes) != 2:
            raise CypherCompileError(
                "shortestPath(...) takes a single relationship pattern"
            )
        edge, node = path.edges[0], path.nodes[1]
        if edge.var_length is None:
            raise CypherCompileError(
                "shortestPath(...) requires a variable-length relationship "
                "(e.g. [*..5])"
            )
        if edge.weight is not None:
            return self._shortest_weighted(df, env, left, path)
        lo, hi = edge.var_length
        hi = min(hi if hi is not None else MAX_VAR_LENGTH, MAX_VAR_LENGTH)
        if lo not in (0, 1):
            raise CypherCompileError(
                "shortestPath(...) lower bound must be 0 or 1"
            )
        base_rel = self._edge_base(edge)
        base = base_rel.select(
            F.col("source_id").alias("src"), F.col("target_id").alias("dst")
        )
        if edge.direction == "<-":
            base = base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        elif edge.direction == "--":
            base = base.unionByName(
                base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        base = base.distinct()
        start_ids = df.select(
            self._key_col(left).alias("src")
        ).distinct()
        seeded = base.join(start_ids, "src", "left_semi")
        # allShortestPaths: the frontier carries a WALK COUNT instead
        # of being distinct-ed — cnt_d(src, w) = Σ over edges v→w of
        # cnt_{d−1}(src, v).  Every minimum-length walk is a path (a
        # repeated vertex would make it longer than the shortest), so
        # the count at a pair's FIRST depth is exactly its number of
        # shortest paths; the result explodes to one row per path
        # (Neo4j allShortestPaths cardinality) with endpoints + length
        # as the engine's documented path rendering.
        all_paths = path.shortest == "all"
        if all_paths:
            seeded = seeded.withColumn("__cnt", F.lit(1).cast("long"))
        found = None
        if lo == 0:
            found = self._twins.select(
                F.col("dt_id").alias("src"),
                F.col("dt_id").alias("dst"),
                F.lit(0).alias("__depth"),
                *([F.lit(1).cast("long").alias("__cnt")] if all_paths else []),
            ).join(start_ids, "src", "left_semi")
        frontier = seeded
        for depth in range(1, hi + 1):
            if depth > 1:
                step = frontier.alias("f").join(
                    base.alias("b"), F.col("f.dst") == F.col("b.src")
                )
                if all_paths:
                    frontier = (
                        step.groupBy(
                            F.col("f.src").alias("src"),
                            F.col("b.dst").alias("dst"),
                        )
                        .agg(F.sum("__cnt").alias("__cnt"))
                    )
                else:
                    frontier = step.select(
                        F.col("f.src").alias("src"), F.col("b.dst").alias("dst")
                    ).distinct()
            new = frontier.withColumn("__depth", F.lit(depth))
            if found is not None:
                new = new.join(found.select("src", "dst"), ["src", "dst"], "left_anti")
            found = new if found is None else found.unionByName(new)
            if depth % 3 == 0 and depth < hi:
                frontier = frontier.localCheckpoint(eager=False)
                found = found.localCheckpoint(eager=False)
        if all_paths:
            # one row per shortest path; the duplicated rows differ
            # only in their hidden path index (dropped immediately).
            # r11 (ADVICE): shortest-path counts are multiplicative on
            # dense graphs, and a single sequence() blows memory (and
            # eventually Spark's array-element cap) long before the
            # count overflows — cap the per-pair fan-out with a CLEAR
            # runtime error instead of an opaque executor OOM.
            found = found.withColumn(
                "__cnt",
                F.when(
                    F.assert_true(
                        F.col("__cnt") <= F.lit(MAX_ALL_SHORTEST_PATHS_PER_PAIR),
                        F.concat(
                            F.lit(
                                "allShortestPaths(): a (src, dst) pair has "
                            ),
                            F.col("__cnt").cast("string"),
                            F.lit(
                                " shortest paths, above the "
                                f"{MAX_ALL_SHORTEST_PATHS_PER_PAIR} per-pair "
                                "row cap; aggregate per pair instead of "
                                "enumerating paths"
                            ),
                        ),
                    ).isNull(),
                    F.col("__cnt"),
                ),
            )
            found = found.withColumn(
                "__pidx", F.explode(F.sequence(F.lit(1), F.col("__cnt")))
            ).drop("__cnt", "__pidx")
        p_alias = self._anon_alias()
        pairs = found.alias(p_alias)
        df = df.join(
            pairs, F.col(f"{p_alias}.src") == self._key_col(left)
        )
        if path.var:
            col = f"__plen_{path.var}"
            df = df.withColumn(col, F.col(f"{p_alias}.__depth").cast("long"))
            env[path.var] = Binding(path.var, "value", col)
        existing = env.get(node.alias) if node.alias else None
        if existing is not None:
            df = df.filter(
                F.col(f"{p_alias}.dst") == F.col(f"{existing.df_alias}.dt_id")
            )
            return self._apply_node_props(df, existing, node), existing
        frame, kind = self._node_frame(node)
        if kind == "twin" and node.props:
            # predicate-bearing traversal endpoint: plain frame so AQE
            # can broadcast the filtered leg (see twins_adaptive_v)
            frame = self._twins_adaptive
        t_alias = node.alias or self._anon_alias()
        t = Binding(node.alias or "", kind, t_alias)
        if node.alias:
            env[node.alias] = t
        scan = self._apply_node_props_scan(frame.alias(t_alias), t_alias, kind, node)
        df = df.join(scan, F.col(f"{p_alias}.dst") == F.col(f"{t_alias}.dt_id"))
        return df, t

    def _shortest_weighted(
        self, df: DataFrame, env: dict[str, Binding], left: Binding, path: C.PathPat
    ):
        """``p = shortestPath((a)-[r:T*lo..hi WEIGHT <expr>]->(b))`` —
        WEIGHTED shortest paths (r13 language extension; the GDS
        Dijkstra / Memgraph wShortest shape expressed in this engine's
        grammar): per (src, dst) pair, the minimum total edge weight
        over paths of at most ``hi`` hops — hop-bounded Bellman-Ford,
        the same k-bounded truncation contract as
        ``operators.graph_analytics.weighted_shortest_paths``.

        ``WEIGHT <expr>`` is any scalar expression over the edge
        variable (e.g. ``toInteger(coalesce(r.quantity, 1))``),
        cast to BIGINT and asserted non-negative in-plan (negative
        weights would make hop-bounded relaxation order-dependent).
        Parallel edges collapse to their MINIMUM weight.  Per pair the
        kept struct is lexicographic min (cost, depth): among
        minimum-cost paths, the fewest hops — deterministic with no
        tie-break column.  ``length(p)`` is that hop count and
        ``cost(p)`` the total weight.

        100 TB shape: per-round frontier supersteps, each ONE
        pair-keyed equi-join + ONE map-side-combined struct-min
        aggregate, with the global min folded once at the end (the
        unweighted _shortest's iteration discipline: plain plans,
        lazy lineage cuts every 3 depths — eager per-round state
        merges were measurably fragile under Spark's Union/LogicalRDD
        constraint rewrite and are deliberately avoided).  Exact
        BIGINT arithmetic end to end, so the whole traversal
        value-checks against a recursive-CTE SQL oracle."""
        edge, node = path.edges[0], path.nodes[1]
        if path.shortest == "all":
            raise CypherCompileError(
                "allShortestPaths(...) does not support WEIGHT — "
                "weighted all-paths enumeration is unbounded; use "
                "shortestPath(...) for the minimum-cost pair"
            )
        lo, hi = edge.var_length
        hi = min(hi if hi is not None else MAX_VAR_LENGTH, MAX_VAR_LENGTH)
        if lo not in (0, 1):
            raise CypherCompileError(
                "shortestPath(...) lower bound must be 0 or 1"
            )
        if edge.alias:
            self._vlen_aliases.add(edge.alias)
        base_rel, _ = self._edge_frame(edge)
        w_alias = self._anon_alias()
        # self-loops never lie on a shortest path: drop them BEFORE the
        # weight check, which the optimizer may evaluate ahead of any
        # later filter (over a LocalRelation it runs at plan time)
        wframe = base_rel.filter(F.col("source_id") != F.col("target_id")).alias(
            w_alias
        )
        # per-edge prop-map predicates (r13 fix — see _edge_base)
        for key, lit in edge.props.items():
            wframe = wframe.filter(self._prop_eq(w_alias, "rel", key, lit))
        wenv: dict[str, Binding] = {}
        if edge.alias:
            wenv[edge.alias] = Binding(edge.alias, "rel", w_alias)
        # property access registers pending variant-extraction columns;
        # isolate them from the outer query's pendings and inject into
        # THIS frame only (the weight expr is scoped to the edge)
        saved_v, saved_s = self._pending_v, self._pending_s
        self._pending_v, self._pending_s = [], []
        raw_w = self._expr(edge.weight, wenv).cast("long")
        for pending in (self._pending_v, self._pending_s):
            if pending:
                wframe = wframe.select("*", *[c.alias(n) for n, c in pending])
        self._pending_v, self._pending_s = saved_v, saved_s
        wcol = F.when(
            F.assert_true(
                raw_w >= 0,
                F.concat(
                    F.lit("shortestPath(WEIGHT ...): negative or NULL "
                          "edge weight "),
                    raw_w.cast("string"),
                    F.lit(" — weights must be non-negative integers "
                          "(wrap in coalesce(...) for a default)"),
                ),
            ).isNull(),
            raw_w,
        )
        base = wframe.select(
            F.col("source_id").alias("src"),
            F.col("target_id").alias("dst"),
            wcol.alias("w"),
        )
        if edge.direction == "<-":
            base = base.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        elif edge.direction == "--":
            base = base.unionByName(
                base.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
                )
            )
        wedges = (
            base.groupBy("src", "dst")
            .agg(F.min("w").alias("w"))
            .localCheckpoint(eager=False)
        )
        start_ids = df.select(self._key_col(left).alias("src")).distinct()
        # Per-round frontier accumulation + ONE global min — the same
        # iteration discipline as the unweighted _shortest (plain
        # plans, lazy checkpoints every 3 depths).  frontier_k holds
        # the per-(src, dst) min (cost, depth) over EXACTLY-k-hop
        # WALKS; with non-negative weights removing a cycle never
        # increases cost, so the global min over all rounds equals the
        # min over simple paths of at most ``hi`` hops, and the
        # lexicographic (cost, depth) min is achieved by a simple path
        # too.  State is FLAT BIGINT columns — the struct-min lives
        # only transiently inside each aggregate.
        def _unpack(grouped: DataFrame) -> DataFrame:
            return grouped.select(
                "src",
                "dst",
                F.col("sd.cost").alias("cost"),
                F.col("sd.depth").alias("depth"),
            )

        if hi >= 1:
            frontier = _unpack(
                wedges.join(start_ids, "src", "left_semi")
                .select(
                    "src",
                    "dst",
                    F.struct(
                        F.col("w").cast("long").alias("cost"),
                        F.lit(1).cast("long").alias("depth"),
                    ).alias("sd"),
                )
                .groupBy("src", "dst")
                .agg(F.min("sd").alias("sd"))
            )
            acc = frontier
            for depth in range(2, hi + 1):
                frontier = _unpack(
                    frontier.alias("f")
                    .join(wedges.alias("b"), F.col("f.dst") == F.col("b.src"))
                    .select(
                        F.col("f.src").alias("src"),
                        F.col("b.dst").alias("dst"),
                        F.struct(
                            (F.col("f.cost") + F.col("b.w")).alias("cost"),
                            (F.col("f.depth") + F.lit(1)).cast("long").alias(
                                "depth"
                            ),
                        ).alias("sd"),
                    )
                    .groupBy("src", "dst")
                    .agg(F.min("sd").alias("sd"))
                )
                acc = acc.unionByName(frontier)
                if depth % 3 == 0 and depth < hi:
                    frontier = frontier.localCheckpoint(eager=False)
                    acc = acc.localCheckpoint(eager=False)
            found = (
                acc.groupBy("src", "dst")
                .agg(
                    F.min(
                        F.struct(
                            F.col("cost").alias("cost"),
                            F.col("depth").alias("depth"),
                        )
                    ).alias("sd")
                )
                .select(
                    "src",
                    "dst",
                    F.col("sd.depth").alias("__depth"),
                    F.col("sd.cost").alias("__cost"),
                )
            )
        else:
            # [*0..0]: zero relaxation rounds — no 1-hop seeding; only
            # the lo==0 self rows below can match (r13 ADVICE fix: the
            # depth-1 frontier used to accumulate unconditionally and
            # returned neighbors the hop bound excludes)
            found = wedges.select(
                "src",
                "dst",
                F.lit(0).cast("long").alias("__depth"),
                F.lit(0).cast("long").alias("__cost"),
            ).limit(0)
        if lo == 0:
            # cost-0 self rows dominate any positive-cost cycle back to
            # the start (weights are non-negative, and on a 0-cost tie
            # the lexicographic (cost, depth) min prefers depth 0), so
            # drop src==dst survivors of the min fold BEFORE the union —
            # keeping both emits duplicate rows per pair on any graph
            # with a cycle through the start (r13 ADVICE high finding)
            found = found.filter(F.col("src") != F.col("dst")).unionByName(
                self._twins.select(
                    F.col("dt_id").alias("src"),
                    F.col("dt_id").alias("dst"),
                    F.lit(0).cast("long").alias("__depth"),
                    F.lit(0).cast("long").alias("__cost"),
                ).join(start_ids, "src", "left_semi")
            )
        p_alias = self._anon_alias()
        pairs = found.alias(p_alias)
        df = df.join(pairs, F.col(f"{p_alias}.src") == self._key_col(left))
        if path.var:
            lcol = f"__plen_{path.var}"
            ccol = f"__pcost_{path.var}"
            df = df.withColumn(
                lcol, F.col(f"{p_alias}.__depth").cast("long")
            ).withColumn(ccol, F.col(f"{p_alias}.__cost").cast("long"))
            b = Binding(path.var, "value", lcol)
            b.col = ccol  # cost(p) reads the tracked total weight
            env[path.var] = b
        existing = env.get(node.alias) if node.alias else None
        if existing is not None:
            df = df.filter(
                F.col(f"{p_alias}.dst") == F.col(f"{existing.df_alias}.dt_id")
            )
            return self._apply_node_props(df, existing, node), existing
        frame, kind = self._node_frame(node)
        if kind == "twin" and node.props:
            frame = self._twins_adaptive
        t_alias = node.alias or self._anon_alias()
        t = Binding(node.alias or "", kind, t_alias)
        if node.alias:
            env[node.alias] = t
        scan = self._apply_node_props_scan(frame.alias(t_alias), t_alias, kind, node)
        df = df.join(scan, F.col(f"{p_alias}.dst") == F.col(f"{t_alias}.dt_id"))
        return df, t

    # ------------------------------------------------------------------
    # OPTIONAL MATCH (C2)
    # ------------------------------------------------------------------
    @staticmethod
    def _opt_frame_cols(kind: str) -> list[str]:
        if kind == "twin":
            return ["dt_id", "model_id", "etag", "doc", "vdoc"]
        if kind == "rel":
            return [
                "relationship_id", "source_id", "target_id", "name", "etag", "doc", "vdoc"
            ]
        return ["dt_id", "decommissioned", "doc", "vdoc"]

    def _optional_match(
        self, df: DataFrame | None, env: dict[str, Binding], clause: C.MatchClause
    ) -> DataFrame:
        if df is None:
            # Leading OPTIONAL MATCH (openCypher-legal): compile the
            # pattern standalone, flatten its bindings, and left-join
            # against a unit row — zero matches yield ONE all-null row.
            sub_env: dict[str, Binding] = {}
            sub = CypherCompiler(self.store)
            sub._anon = self._anon + 100
            inner = C.MatchClause(list(clause.paths), where=clause.where)
            sub_df = sub._match(None, sub_env, inner)
            cols = []
            for name, b in sub_env.items():
                if not name:
                    continue
                prefix = f"__o_{name}"
                for fc in self._opt_frame_cols(b.kind):
                    cols.append(F.col(f"{b.df_alias}.{fc}").alias(f"{prefix}__{fc}"))
                env[name] = Binding(name, b.kind, prefix)
            unit = self.store.spark.range(1).select(F.lit(1).alias("__unit"))
            return unit.join(sub_df.select(*cols), F.lit(True), "left").drop("__unit")
        shared = [
            p.nodes[0].alias
            for p in clause.paths
            if p.nodes[0].alias and p.nodes[0].alias in env
        ]
        if not shared:
            raise CypherCompileError(
                "OPTIONAL MATCH must start at an already-bound node"
            )
        anchor = env[shared[0]]
        sub_env: dict[str, Binding] = {}
        sub = CypherCompiler(self.store)
        sub._anon = self._anon + 100
        sub_df: DataFrame | None = None
        # re-bind the anchor under a fresh alias inside the sub-pattern
        import dataclasses as _dc

        rebound = C.NodePat(f"__opt_{anchor.name}", [], clause.paths[0].nodes[0].props)

        def _re_anchor(node: C.NodePat) -> C.NodePat:
            # EVERY occurrence of the anchor alias inside the optional
            # pattern — other comma-paths' heads, cycles back to the
            # anchor — must rebind to the SAME fresh alias, or the
            # sub-compiler would treat it as an unrelated fresh scan
            # (a silent cartesian at best, wrong rows at worst)
            if node.alias == anchor.name:
                return _dc.replace(node, alias=rebound.alias)
            return node

        first_path = C.PathPat(
            [rebound] + [_re_anchor(n) for n in clause.paths[0].nodes[1:]],
            clause.paths[0].edges,
        )
        rest_paths = [
            C.PathPat([_re_anchor(n) for n in p.nodes], p.edges)
            for p in clause.paths[1:]
        ]
        # the clause's WHERE may reference the anchor by its OUTER name
        # (legal Cypher: OPTIONAL MATCH (c)-->(d) WHERE c.x = 1 AND ...)
        # — re-point those references at the rebound alias so the
        # sub-pattern filters during matching (outer-join semantics:
        # non-qualifying rows yield nulls, they are not dropped)
        where = clause.where
        if where is not None and anchor.name:
            where = _cy_expr_rename(where, {anchor.name: rebound.alias})
        inner = C.MatchClause([first_path] + rest_paths, where=where)
        sub_df = sub._match(None, sub_env, inner)
        # expose new aliases + the rebound anchor key
        cols = [
            F.col(f"{sub_env[rebound.alias].df_alias}.dt_id").alias("__opt_key")
        ]
        for name, b in sub_env.items():
            if name == rebound.alias:
                continue
            if name in env:
                raise CypherCompileError(
                    f"OPTIONAL MATCH rebinding {name!r} is not supported"
                )
            # surface the sub-binding's full frame columns under flat names
            prefix = f"__o_{name}"
            frame_cols = self._opt_frame_cols(b.kind)
            for fc in frame_cols:
                cols.append(F.col(f"{b.df_alias}.{fc}").alias(f"{prefix}__{fc}"))
            env[name] = Binding(name, b.kind, prefix)
        flat = sub_df.select(*cols)
        out = df.join(
            flat,
            F.col("__opt_key") == F.col(f"{anchor.df_alias}.dt_id"),
            "left",
        ).drop("__opt_key")
        # rewrite optional bindings to flat-column pseudo-frames
        return out

    # ------------------------------------------------------------------
    # UNWIND (C7)
    # ------------------------------------------------------------------
    def _unwind(
        self, df: DataFrame | None, env: dict[str, Binding], clause: C.UnwindClause
    ) -> DataFrame:
        if df is None:
            df = self.store.spark.range(1).select(F.lit(1).alias("__one"))
        e = clause.expr
        name = f"__u_{clause.alias}"
        if isinstance(e, C.ListLit):
            items = [self._expr(i, env) for i in e.items]
            col = F.explode(F.array(*items))
        elif isinstance(e, C.Prop):
            b, path, promoted = self._resolve(e, env)
            arr = F.try_variant_get(
                F.col(f"{b.df_alias}.vdoc"), J.variant_path(path), "array<variant>"
            )
            col = F.explode(arr)
            self._value_variant.add(name)
        elif isinstance(e, C.Func) and e.name == "range":
            # UNWIND range(a, b[, step]) — the generate-series idiom
            col = F.explode(self._func(e, env))
        else:
            raise CypherCompileError(f"UNWIND over {e!r} not supported")
        df = df.select("*", col.alias(name))
        env[clause.alias] = Binding(clause.alias, "value", name)
        return df

    # ------------------------------------------------------------------
    # WITH (intermediate projection stage)
    # ------------------------------------------------------------------
    def _with(
        self, df: DataFrame | None, env: dict[str, Binding], clause: C.WithClause
    ) -> tuple[DataFrame, dict[str, Binding]]:
        """Compile a WITH stage by reusing the RETURN machinery
        (projection / aggregation / DISTINCT / typed ORDER BY / SKIP /
        LIMIT), then REPLACE the scope with the projected names
        (openCypher scoping).  The trailing WHERE filters the projected
        rows — evaluated against the new scope, so aggregate aliases
        are filterable (the HAVING idiom).

        Bounds (clear errors, not wrong answers): patterns after WITH
        must not re-bind projected variables (node identity doesn't
        survive projection — match first, then WITH), and property
        access on a whole-entity projection requires projecting the
        properties explicitly in the WITH."""
        if df is None:
            df = self.store.spark.range(1).select(F.lit(1).alias("__one"))
        if clause.star:
            # WITH * — every named variable in scope rides through,
            # before any explicit extra items (`WITH *, count(r) AS n`
            # groups by all carried variables per openCypher)
            import dataclasses as _dc

            star = [
                C.ReturnItem(C.Var(nm), None)
                for nm in env
                if not nm.startswith("__")
            ]
            if not star:
                raise CypherCompileError(
                    "WITH * requires at least one named variable"
                )
            clause = _dc.replace(
                clause, items=star + list(clause.items), star=False
            )
        # ENTITY PASSTHROUGH (non-aggregating stages): a bare variable
        # item whose binding is a twin/rel/model keeps its IDENTITY
        # through the projection — the frame columns ride along as
        # prefixed flat columns (the same mechanism OPTIONAL MATCH
        # uses), so `WITH t ORDER BY ... LIMIT n RETURN t.x` works
        # instead of erroring.  Aggregating stages keep the value
        # projection (entity-keyed grouping stays a documented bound).
        has_agg = any(C.has_aggregate(it.expr) for it in clause.items)
        passthrough: dict[str, Binding] = {}
        for i, it in enumerate(clause.items):
            e = it.expr
            if isinstance(e, C.Var) and e.name in env and not C.has_aggregate(e):
                b = env[e.name]
                if b.kind in ("twin", "rel", "model") and not b.virtual:
                    passthrough[self._item_name(it, i)] = b
        if passthrough:
            return self._with_passthrough(
                df, env, clause, passthrough, has_agg
            )
        pseudo = C.SingleQuery(
            clauses=[],
            ret=clause.items,
            distinct=clause.distinct,
            order_by=clause.order_by,
            skip=clause.skip,
            limit=clause.limit,
        )
        out = self._return(df, env, pseudo)
        # the shared variant/schema helper columns belonged to the old
        # scope's frames; they were resolved by _return's _inject
        self._shared.clear()
        self._pending_v.clear()
        self._pending_s.clear()
        names = [self._item_name(it, i) for i, it in enumerate(clause.items)]
        new_env = {nm: Binding(nm, "value", nm) for nm in names}
        dtypes = dict(out.dtypes)
        for nm in names:
            dt = dtypes.get(nm)
            if dt == "variant":
                self._value_variant.add(nm)
            elif dt in ("date", "timestamp", "timestamp_ntz") or (
                dt or ""
            ).startswith("interval"):
                self._value_temporal[nm] = dt
            else:
                # a later WITH may re-project a previously-temporal
                # name as something else — drop the stale registry
                # entry or component access would compile against the
                # wrong type
                self._value_temporal.pop(nm, None)
        if clause.where is not None:
            out = out.filter(self._expr(clause.where, new_env, as_predicate=True))
        # a global aggregate (every item aggregated, no grouping keys)
        # collapses to ONE row; an explicit LIMIT bounds the frame —
        # either makes a following disconnected MATCH a plain scan
        if clause.limit is not None or (
            clause.items and all(C.has_aggregate(it.expr) for it in clause.items)
        ):
            self._frame_bounded = True
        elif clause.items:
            self._frame_bounded = False
        return out, new_env

    def _with_passthrough(
        self,
        df: DataFrame,
        env: dict[str, Binding],
        clause: C.WithClause,
        passthrough: dict[str, Binding],
        has_agg: bool = False,
    ) -> tuple[DataFrame, dict[str, Binding]]:
        """WITH with whole-entity items: project entity frame columns
        flat (prefixed) + value items, apply grouping (for aggregating
        stages: entity IDENTITY keys group; non-key frame columns ride
        via first() — functionally dependent on the key) / ORDER BY /
        SKIP / LIMIT / DISTINCT / WHERE, and rebind entities in the new
        scope so later property access and hops still work."""
        cols: list[Column] = []
        new_env: dict[str, Binding] = {}
        names = [self._item_name(it, i) for i, it in enumerate(clause.items)]
        agg_items: list[tuple[str, C.Expr]] = []
        for it, nm in zip(clause.items, names):
            b = passthrough.get(nm)
            src = it.expr
            if (
                b is not None
                and isinstance(src, C.Var)
                and env.get(src.name) is b
            ):
                prefix = f"__o_{nm}"
                for fc in self._opt_frame_cols(b.kind):
                    cols.append(self._col(b, fc).alias(f"{prefix}__{fc}"))
                new_env[nm] = Binding(
                    nm,
                    b.kind,
                    prefix,
                    key_col=(
                        "relationship_id" if b.kind == "rel" else "dt_id"
                    ),
                )
            elif has_agg and C.has_aggregate(src):
                agg_items.append((nm, src))
                new_env[nm] = Binding(nm, "value", nm)
            else:
                cols.append(
                    self._expr(src, env).alias(nm)
                )
                new_env[nm] = Binding(nm, "value", nm)
        if has_agg:
            # entity-keyed aggregation: group by identity keys + value
            # items; carry the remaining frame columns via first()
            aggs = [
                self._aggregate(e2, env).alias(nm) for nm, e2 in agg_items
            ]
            # aggregate over the ORIGINAL frame with the flat key /
            # carried columns injected alongside (agg inputs still need
            # the source frame's columns)
            base = self._inject(df).select("*", *cols)
            key_names = [
                c
                for c in [col_alias for col_alias in _aliases_of(cols)]
                if _is_key_name(c, new_env)
            ]
            carried = [
                c for c in _aliases_of(cols) if c not in key_names
            ]
            out = base.groupBy(*key_names).agg(
                *[F.first(F.col(c)).alias(c) for c in carried],
                *aggs,
            )
            self._shared.clear()
            self._pending_v.clear()
            self._pending_s.clear()
            if clause.order_by:
                sort_exprs = []
                pseudo = C.SingleQuery(
                    clauses=[], ret=clause.items, distinct=False,
                    order_by=None, skip=None, limit=None,
                )
                for expr, asc in clause.order_by:
                    c2, _ = self._order_expr(expr, new_env, pseudo, names)
                    sort_exprs.append(c2.asc() if asc else c2.desc())
                out = out.orderBy(*sort_exprs)
            if clause.skip is not None:
                out = out.offset(int(clause.skip))
            if clause.limit is not None:
                out = out.limit(int(clause.limit))
            if clause.where is not None:
                out = out.filter(
                    self._expr(clause.where, new_env, as_predicate=True)
                )
            self._frame_bounded = clause.limit is not None
            return out, new_env
        if clause.order_by:
            # order keys compile against the OLD frame — project them
            # as hidden columns so they survive, sort, then drop
            hidden = [
                c.alias(f"__wob{i}")
                for i, c in enumerate(self._order_keys(clause, env, names))
            ]
            out = self._inject(df).select(*cols, *hidden)
            if clause.distinct:
                # DISTINCT applies to the projected items; equal rows
                # carry equal order keys (keys derive from the items).
                # Variant columns cannot set-op — dedupe on entity
                # IDENTITY keys + non-variant value columns instead
                out = out.dropDuplicates(
                    self._distinct_keys(out, new_env)
                )
            sort_exprs = [
                F.col(f"__wob{i}").asc() if asc else F.col(f"__wob{i}").desc()
                for i, (_, asc) in enumerate(clause.order_by)
            ]
            out = out.orderBy(*sort_exprs).drop(
                *[f"__wob{i}" for i in range(len(hidden))]
            )
        else:
            out = self._inject(df).select(*cols)
            if clause.distinct:
                out = out.dropDuplicates(self._distinct_keys(out, new_env))
        if clause.skip is not None:
            out = out.offset(int(clause.skip))
        if clause.limit is not None:
            out = out.limit(int(clause.limit))
        self._shared.clear()
        self._pending_v.clear()
        self._pending_s.clear()
        if clause.where is not None:
            out = out.filter(
                self._expr(clause.where, new_env, as_predicate=True)
            )
        self._frame_bounded = clause.limit is not None
        return out, new_env

    @staticmethod
    def _distinct_keys(out: DataFrame, new_env: dict[str, Binding]) -> list[str]:
        """Columns defining row identity for a passthrough DISTINCT:
        entity KEY columns (dt_id / relationship_id+source_id — the doc
        is functionally dependent on them) plus every non-variant,
        non-hidden value column."""
        keys: list[str] = []
        dtypes = dict(out.dtypes)
        entity_prefixes = [
            (f"__o_{nm}__", b.kind)
            for nm, b in new_env.items()
            if b.kind in ("twin", "rel", "model")
        ]
        for col in out.columns:
            if col.startswith("__wob"):
                continue
            hit = next(
                (k for p, k in entity_prefixes if col.startswith(p)), None
            )
            if hit is None:
                if dtypes.get(col) != "variant":
                    keys.append(col)
            elif col.endswith(("__dt_id", "__relationship_id", "__source_id")):
                keys.append(col)
        return keys

    def _order_keys(self, clause: C.WithClause, env, names) -> list[Column]:
        pseudo = C.SingleQuery(
            clauses=[], ret=clause.items, distinct=False,
            order_by=None, skip=None, limit=None,
        )
        return [
            self._order_expr(expr, env, pseudo, names)[0]
            for expr, _asc in (clause.order_by or [])
        ]

    # ------------------------------------------------------------------
    # shared variant helpers (same machinery as the ADT QL compiler)
    # ------------------------------------------------------------------
    def _shared_v(self, df_alias: str, path: tuple[str, ...]) -> Column:
        key = (df_alias, path, "v")
        name = self._shared.get(key)
        if name is None:
            name = f"__cv{len(self._shared)}"
            self._shared[key] = name
            self._pending_v.append(
                (name, _pin(J.vget(F.col(f"{df_alias}.vdoc"), list(path))))
            )
        return F.col(name)

    def _shared_s(self, df_alias: str, path: tuple[str, ...]) -> Column:
        key = (df_alias, path, "s")
        name = self._shared.get(key)
        if name is None:
            name = f"__cs{len(self._shared)}"
            self._shared[key] = name
            self._pending_s.append(
                (name, _pin(F.schema_of_variant(self._shared_v(df_alias, path))))
            )
        return F.col(name)

    def _inject(self, df: DataFrame) -> DataFrame:
        for pending in (self._pending_v, self._pending_s):
            if pending:
                df = df.select("*", *[c.alias(n) for n, c in pending])
                pending.clear()
        return df

    # ------------------------------------------------------------------
    # expressions
    # ------------------------------------------------------------------
    def _resolve(self, p: C.Prop, env: dict[str, Binding]):
        if p.var not in env:
            raise self._unknown_var(p.var)
        b = env[p.var]
        promoted_map = {
            "twin": TWIN_PROMOTED,
            "rel": REL_PROMOTED,
            "model": MODEL_PROMOTED,
            "value": {},
        }[b.kind]
        promoted = promoted_map.get(tuple(p.path))
        return b, p.path, promoted

    @staticmethod
    def _key_col(left: Binding) -> Column:
        """The anchor key column of a binding — dotted for frame-backed
        bindings, flat (``prefix__col``) for passthrough/optional
        entity bindings.

        Relationship bindings key on the COMPOSITE
        ``(source_id, relationship_id)`` struct: per ADT semantics
        $relationshipId is only unique per source twin (the store PK —
        see store/commit_log.py MERGE key), so a join-back / window /
        grouping on the bare id would fan out across source twins that
        reuse an id (e.g. both naming an edge 'contains')."""
        if left.kind == "rel":
            if left.df_alias.startswith("__o_"):
                return F.struct(
                    F.col(f"{left.df_alias}__source_id"),
                    F.col(f"{left.df_alias}__relationship_id"),
                )
            return F.struct(
                F.col(f"{left.df_alias}.source_id"),
                F.col(f"{left.df_alias}.relationship_id"),
            )
        if left.df_alias.startswith("__o_"):
            return F.col(f"{left.df_alias}__{left.key_col}")
        return F.col(f"{left.df_alias}.{left.key_col}")

    def _col(self, b: Binding, name: str) -> Column:
        if b.df_alias.startswith("__o_"):
            return F.col(f"{b.df_alias}__{name}")
        return F.col(f"{b.df_alias}.{name}")

    def _typed(self, p: C.Prop, env, kind: str | None) -> Column:
        b, path, promoted = self._resolve(p, env)
        if b.kind == "value":
            c = F.col(b.df_alias)
            is_var = b.df_alias in self._value_variant
            if path and b.df_alias in self._value_temporal:
                # temporal component access on a WITH-projected
                # date/datetime (Neo4j instant properties: d.year,
                # d.month, …) — numeric components, NULL-safe
                comp = _temporal_component(
                    c, path, self._value_temporal[b.df_alias]
                )
                if kind == "number":
                    return comp.cast("double")
                if kind == "string":
                    return comp.cast("string")
                return comp
            if path:
                # navigating INTO a projected value only works when the
                # value is a variant (e.g. an UNWIND'd object); a
                # whole-entity projection is its JSON rendering and
                # silently returning it as the "property" would be a
                # wrong answer
                if not is_var:
                    raise CypherCompileError(
                        f"Property access {p.var}.{'.'.join(path)} on a "
                        "projected value is not supported — project the "
                        "property explicitly in the WITH"
                    )
                c = F.try_variant_get(c, J.variant_path(list(path)), "variant")
            if kind == "number":
                return F.try_variant_get(c, "$", "double") if is_var else c.cast("double")
            if kind == "string":
                return F.try_variant_get(c, "$", "string") if is_var else c.cast("string")
            return c
        if promoted:
            c = self._col(b, promoted)
            if kind == "number":
                return c.cast("double")
            if kind == "bool":
                return c.cast("boolean")
            return c
        if b.df_alias.startswith("__o_"):
            v = J.vget(F.col(f"{b.df_alias}__vdoc"), path)
            s = F.schema_of_variant(v)
        else:
            v = self._shared_v(b.df_alias, tuple(path))
            s = None
        if kind == "number":
            return J.num_of(v, s if s is not None else self._shared_s(b.df_alias, tuple(path)))
        if kind == "bool":
            return J.bool_of(v, s if s is not None else self._shared_s(b.df_alias, tuple(path)))
        if kind == "string":
            return J.str_of(v, s if s is not None else self._shared_s(b.df_alias, tuple(path)))
        return J.loose_str_of(v)

    def _expr(self, e: C.Expr, env: dict[str, Binding], as_predicate: bool = False) -> Column:
        if isinstance(e, C.And):
            out = self._expr(e.items[0], env, True)
            for i in e.items[1:]:
                out = out & self._expr(i, env, True)
            return out
        if isinstance(e, C.Or):
            out = self._expr(e.items[0], env, True)
            for i in e.items[1:]:
                out = out | self._expr(i, env, True)
            return out
        if isinstance(e, C.Not):
            return ~self._expr(e.item, env, True)
        if isinstance(e, C.Cmp):
            kind = _lit_kind(e.left) or _lit_kind(e.right)
            left = self._operand(e.left, env, kind)
            right = self._operand(e.right, env, kind)
            return {
                "=": left == right,
                "<>": ~(left == right),
                "<": left < right,
                ">": left > right,
                "<=": left <= right,
                ">=": left >= right,
            }[e.op]
        if isinstance(e, C.StringOp):
            left = self._operand(e.left, env, "string")
            right = self._operand(e.right, env, "string")
            if e.op == "STARTS WITH":
                return left.startswith(right)
            if e.op == "ENDS WITH":
                return left.endswith(right)
            if e.op == "REGEX":
                # Cypher =~ is a FULL-string match (Java matches());
                # Spark rlike finds partial matches, so anchor the
                # pattern in a non-capturing group
                return F.regexp_like(
                    left, F.concat(F.lit("^(?:"), right, F.lit(")$"))
                )
            return left.contains(right)
        if isinstance(e, C.InList):
            if isinstance(e.items, C.ListLit):
                kinds = {i.kind for i in e.items.items if isinstance(i, C.Lit)}
                kind = "number" if kinds == {"number"} else "string"
                op = self._operand(e.operand, env, kind)
                vals = [i.value for i in e.items.items if isinstance(i, C.Lit)]
                if kind == "number":
                    vals = [float(v) for v in vals]
                return op.isin(vals)
            if isinstance(e.items, C.Prop):
                b, path, _ = self._resolve(e.items, env)
                arr = F.try_variant_get(
                    F.col(f"{b.df_alias}.vdoc"), J.variant_path(path), "array<string>"
                )
                op = self._operand(e.operand, env, "string")
                return F.coalesce(F.array_contains(arr, op), F.lit(False))
            raise CypherCompileError("IN requires a list literal or array property")
        if isinstance(e, C.IsNull):
            op = self._operand(e.operand, env, None)
            return op.isNotNull() if e.negated else op.isNull()
        if isinstance(e, C.Arith):
            if e.op == "+":
                # Cypher + is overloaded: numeric addition, string
                # concatenation, list concatenation.  Resolve the kind
                # from whichever side is statically typed — a string
                # literal / toString() forces concat, a list literal
                # forces array concat, else numeric.
                def _static_kind(x) -> str | None:
                    if isinstance(x, C.Lit):
                        return "string" if isinstance(x.value, str) else "number"
                    if isinstance(x, C.ListLit):
                        return "list"
                    if isinstance(x, C.Func) and x.name in (
                        "tostring", "tostringornull", "tolower", "toupper",
                        "trim", "ltrim", "rtrim", "replace", "substring",
                        "left", "right", "reverse",
                    ):
                        return "string"
                    if isinstance(x, C.Func) and x.name in ("split", "range", "tail", "collect"):
                        return "list"
                    if isinstance(x, C.Arith) and x.op == "+":
                        return _static_kind(x.left) or _static_kind(x.right)
                    return None
                kind = _static_kind(e.left) or _static_kind(e.right)
                if kind == "string":
                    return F.concat(
                        self._operand(e.left, env, "string"),
                        self._operand(e.right, env, "string"),
                    )
                if kind == "list":
                    return F.concat(
                        self._expr(e.left, env), self._expr(e.right, env)
                    )
            if e.op in ("+", "-") and (
                self._temporal_kind(e.left, env)
                or self._temporal_kind(e.right, env)
            ):
                # temporal algebra: date/datetime ± duration,
                # duration ± duration, instant − instant — compiled on
                # the NATIVE Spark types (a numeric cast would destroy
                # them); Spark's interval arithmetic carries the
                # result typing
                lt = self._expr(e.left, env)
                rt = self._expr(e.right, env)
                return lt + rt if e.op == "+" else lt - rt
            if e.op in ("*", "/"):
                # duration × scalar / duration ÷ scalar (Neo4j
                # duration scaling) — Spark interval arithmetic
                # supports numeric multipliers on both families
                lk = self._temporal_kind(e.left, env)
                rk = self._temporal_kind(e.right, env)
                if lk is not None and lk.startswith("duration"):
                    num = self._operand(e.right, env, "number")
                    lt = self._expr(e.left, env)
                    return lt * num if e.op == "*" else lt / num
                if (
                    e.op == "*"
                    and rk is not None
                    and rk.startswith("duration")
                ):
                    return self._operand(e.left, env, "number") * self._expr(
                        e.right, env
                    )
            left = self._operand(e.left, env, "number")
            right = self._operand(e.right, env, "number")
            return {
                "+": left + right,
                "-": left - right,
                "*": left * right,
                "/": left / right,
                "%": left % right,
                "^": F.pow(left, right),
            }[e.op]
        if isinstance(e, C.Case):
            col = None
            for cond, val in e.whens:
                if e.operand is not None:
                    kind = _lit_kind(cond) or _lit_kind(e.operand)
                    c = self._operand(e.operand, env, kind) == self._operand(
                        cond, env, kind
                    )
                else:
                    c = self._expr(cond, env, True)
                v = self._operand(val, env, _lit_kind(val))
                col = F.when(c, v) if col is None else col.when(c, v)
            if e.else_ is not None:
                col = col.otherwise(self._operand(e.else_, env, _lit_kind(e.else_)))
            return col
        if isinstance(e, C.PostfixProp):
            # ``fn(...).seg`` / ``(expr).seg`` — a Var base is ordinary
            # property access; otherwise the base must be statically
            # temporal and the segment extracts its component
            if isinstance(e.base, C.Var):
                return self._expr(
                    C.Prop(e.base.name, list(e.path)), env, as_predicate
                )
            k = self._temporal_kind(e.base, env)
            if k is None:
                raise CypherCompileError(
                    "property access on a computed value is only "
                    "supported for temporal expressions "
                    "(date/datetime/duration)"
                )
            dtype = {
                "temporal": "timestamp",
                "duration_dt": "interval day to second",
                "duration_ym": "interval year to month",
            }[k]
            return _temporal_component(
                self._expr(e.base, env), list(e.path), dtype
            )
        if isinstance(e, C.Func):
            return self._func(e, env)
        if isinstance(e, C.Lit):
            return F.lit(e.value)
        if isinstance(e, C.Prop):
            if as_predicate:
                return self._typed(e, env, "bool")
            return self._typed(e, env, None)
        if isinstance(e, C.Var):
            b = env.get(e.name)
            if b is None:
                raise self._unknown_var(e.name)
            if b.kind == "lambda":
                return b.col
            if b.kind == "value":
                return F.col(b.df_alias)
            return self._col(b, "doc")
        if isinstance(e, C.ListLit):
            return F.array(*[self._expr(i, env) for i in e.items])
        if isinstance(e, C.ListComp):
            arr, is_var = self._array_src(e.src, env)
            def _env2(x):
                return {
                    **env,
                    e.var: Binding(e.var, "lambda", "", col=x, variant=is_var),
                }
            out = arr
            if e.where is not None:
                out = F.filter(
                    out, lambda x: self._expr(e.where, _env2(x), True)
                )
            if e.map is not None:
                out = F.transform(out, lambda x: self._expr(e.map, _env2(x)))
            return out
        if isinstance(e, C.ListPred):
            arr, is_var = self._array_src(e.src, env)

            def _envp(x):
                return {
                    **env,
                    e.var: Binding(e.var, "lambda", "", col=x, variant=is_var),
                }

            pred = lambda x: self._expr(e.where, _envp(x), True)  # noqa: E731
            if e.kind == "any":
                return F.exists(arr, pred)
            if e.kind == "all":
                return F.forall(arr, pred)
            if e.kind == "none":
                return ~F.exists(arr, pred)
            # single: exactly one element satisfies
            return F.size(F.filter(arr, pred)) == F.lit(1)
        if isinstance(e, C.Reduce):
            arr, is_var = self._array_src(e.src, env)
            init = self._operand(e.init, env, _lit_kind(e.init))
            if isinstance(e.init, C.Lit) and e.init.kind == "number":
                # the fold's accumulator type is fixed by the zero value;
                # numeric folds accumulate as double so variant/typed
                # elements merge without an analysis-time type clash
                init = init.cast("double")
            def _env3(acc, x):
                return {
                    **env,
                    e.acc: Binding(e.acc, "lambda", "", col=acc),
                    e.var: Binding(e.var, "lambda", "", col=x, variant=is_var),
                }
            return F.aggregate(
                arr, init, lambda acc, x: self._expr(e.step, _env3(acc, x))
            )
        if isinstance(e, C.PatternPred):
            raise CypherCompileError(
                "pattern predicates are only supported as top-level WHERE "
                "conjuncts (optionally under NOT) — rewrite the OR with "
                "UNION, or bind the pattern with OPTIONAL MATCH"
            )
        raise CypherCompileError(f"Unsupported expression {e!r}")

    def _array_src(self, src: C.Expr, env) -> tuple[Column, bool]:
        """Resolve a list-comprehension / reduce source to (array
        Column, elements-are-variant?).  Dynamic properties read as
        array<variant>; everything else (list literals, range/split/
        collect results, WITH-projected lists) keeps its concrete
        element type."""
        if isinstance(src, C.Prop):
            b, path, promoted = self._resolve(src, env)
            if b.kind != "value" and not promoted:
                return (
                    F.try_variant_get(
                        F.col(f"{b.df_alias}.vdoc"),
                        J.variant_path(path),
                        "array<variant>",
                    ),
                    True,
                )
        return self._expr(src, env), False

    def _temporal_kind(self, x: C.Expr, env) -> str | None:
        """Static detection of temporal-typed operands for +/- and
        postfix component access: 'temporal' (date/datetime constructor
        or a WITH-projected date/timestamp value), 'duration_dt' /
        'duration_ym' (duration values, by interval family)."""
        if isinstance(x, C.Func):
            if x.name in (
                "date", "datetime", "localdatetime",
                "date.truncate", "datetime.truncate",
                "localdatetime.truncate",
            ):
                return "temporal"
            if x.name == "duration.between":
                return "duration_dt"
            if x.name == "duration":
                if (
                    len(x.args) == 1
                    and isinstance(x.args[0], C.Lit)
                    and isinstance(x.args[0].value, str)
                ):
                    m = _ISO_DURATION.match(x.args[0].value.strip())
                    if m and (m.group(1) or m.group(2)):
                        return "duration_ym"
                return "duration_dt"
        if isinstance(x, C.Var):
            b = env.get(x.name)
            if b is not None and b.kind == "value":
                dt = self._value_temporal.get(b.df_alias)
                if dt is None:
                    return None
                if not dt.startswith("interval"):
                    return "temporal"
                return (
                    "duration_ym"
                    if ("year" in dt or "month" in dt)
                    else "duration_dt"
                )
        if isinstance(x, C.Arith) and x.op in ("+", "-"):
            lk = self._temporal_kind(x.left, env)
            rk = self._temporal_kind(x.right, env)
            if "temporal" in (lk, rk):
                return "temporal"
            if (
                lk
                and rk
                and lk.startswith("duration")
                and rk.startswith("duration")
            ):
                return lk
        if isinstance(x, C.Arith) and x.op in ("*", "/"):
            # duration scaling preserves the interval family
            lk = self._temporal_kind(x.left, env)
            if lk and lk.startswith("duration"):
                return lk
            if x.op == "*":
                rk = self._temporal_kind(x.right, env)
                if rk and rk.startswith("duration"):
                    return rk
        return None

    def _operand(self, e: C.Expr, env, kind: str | None) -> Column:
        if isinstance(e, C.Lit):
            return F.lit(e.value)
        if isinstance(e, C.Prop):
            return self._typed(e, env, kind)
        if isinstance(e, C.Var):
            b = env.get(e.name)
            if b is not None and b.kind == "lambda":
                # lambda element/accumulator: apply the requested type
                # like _typed does for properties — variant elements
                # extract, concrete elements cast
                c = b.col
                if kind == "number":
                    return (
                        F.try_variant_get(c, "$", "double")
                        if b.variant
                        else c.cast("double")
                    )
                if kind == "string":
                    return (
                        F.try_variant_get(c, "$", "string")
                        if b.variant
                        else c.cast("string")
                    )
                if kind == "bool":
                    return (
                        F.try_variant_get(c, "$", "boolean")
                        if b.variant
                        else c.cast("boolean")
                    )
                return c
        return self._expr(e, env)

    def _func(self, e: C.Func, env) -> Column:
        n = e.name
        if "." in n:
            # the reference installs per-graph plpgsql helpers named
            # ``<graphName>.<fn>`` (GraphInitialization.cs:50-264); the
            # prefix is the GRAPH NAME (``testgraph.is_of_model``,
            # ``digitaltwins.is_number``, …), so dispatch on the
            # basename whatever the prefix
            base = n.rsplit(".", 1)[-1]
            if base in _GRAPH_HELPERS:
                n = base
        if n in C.AGGREGATES:
            return self._aggregate(e, env)
        if n in ("label", "type"):
            # openCypher type(r) == AGE label(r) for edges
            [arg] = e.args
            if not isinstance(arg, C.Var) or arg.name not in env:
                raise CypherCompileError(f"{n}() needs a bound edge variable")
            return self._col(env[arg.name], "name")
        if n == "exists":
            [arg] = e.args
            if not isinstance(arg, C.Prop):
                raise CypherCompileError("exists() needs a property argument")
            return self._operand(arg, env, None).isNotNull()
        if n in ("nodes", "relationships"):
            [arg] = e.args
            if (
                not isinstance(arg, C.Var)
                or arg.name not in self._path_vars_fixed
            ):
                raise CypherCompileError(
                    f"{n}() needs a FIXED-length path variable "
                    "(p = (a)-[r]->(b)...); variable-length/shortestPath "
                    "paths carry only length(p)"
                )
            prefix = "__pnodes_" if n == "nodes" else "__prels_"
            return F.col(f"{prefix}{arg.name}")
        if n in (
            "id", "elementid", "keys", "properties", "labels",
            "startnode", "endnode",
        ):
            [arg] = e.args
            if not isinstance(arg, C.Var) or arg.name not in env:
                raise CypherCompileError(f"{n}() needs a bound entity variable")
            b = env[arg.name]
            if b.kind == "value" and n in ("labels", "elementid"):
                raise CypherCompileError(f"{n}() needs an entity, not a value")
            if n == "labels":
                # node labels as a list (Neo4j labels(n)); this store
                # has exactly one label per vertex kind, and edges get
                # their relationship name (AGE's single edge label)
                if b.kind == "twin":
                    return F.array(F.lit("Twin"))
                if b.kind == "model":
                    return F.array(F.lit("Model"))
                return F.array(self._col(b, "name"))
            if n == "elementid":
                # Neo4j 5 string element id — this engine's ids ARE
                # strings, so elementId(x) == id(x)
                key = "relationship_id" if b.kind == "rel" else "dt_id"
                return self._col(b, key)
            if b.kind == "value":
                raise CypherCompileError(f"{n}() needs an entity, not a value")
            if n == "id":
                # the entity's key: $dtId / $relationshipId / model id
                key = "relationship_id" if b.kind == "rel" else "dt_id"
                return self._col(b, key)
            if n in ("startnode", "endnode"):
                # Neo4j startNode(r)/endNode(r) return whole nodes;
                # this engine's documented path rendering is ids, so
                # they yield the endpoint twin ids (joinable back to a
                # MATCH when the caller needs properties)
                if b.kind != "rel":
                    raise CypherCompileError(
                        f"{n}() needs a relationship variable"
                    )
                return self._col(
                    b, "source_id" if n == "startnode" else "target_id"
                )
            if n == "keys":
                # sorted property-name array from the stored document
                return F.array_sort(
                    F.json_object_keys(self._col(b, "doc"))
                )
            # properties(x): the document as map<string,string> —
            # scalars as their string form, nested objects as JSON
            # text (a typed per-key map is impossible under dynamic
            # typing; AGE returns the agtype map)
            return F.from_json(
                self._col(b, "doc"), "map<string,string>"
            )
        if n in ("tolower", "toupper"):
            c = self._operand(e.args[0], env, "string")
            return F.lower(c) if n == "tolower" else F.upper(c)
        if n in ("tostring", "tostringornull"):
            return self._operand(e.args[0], env, None).cast("string")
        if n == "tointegerornull":
            n = "tointeger"
        if n == "tofloatornull":
            n = "tofloat"
        if n == "tointeger":
            # Neo4j/AGE: unparsable input → NULL, never an error (ANSI
            # cast would throw CAST_INVALID_INPUT on toInteger('abc'));
            # fractional input truncates toward zero (toInteger(3.9)=3).
            # Integral inputs take the direct long cast — routing them
            # through double would lose precision above 2^53 (Neo4j
            # returns integral input exactly); only values the long
            # cast rejects (fractional strings/floats) fall back to the
            # double path.
            s = self._operand(e.args[0], env, None).cast("string")
            return F.coalesce(
                s.try_cast("long"), s.try_cast("double").try_cast("long")
            )
        if n == "tofloat":
            return self._operand(e.args[0], env, None).cast("string").try_cast(
                "double"
            )
        if n == "size":
            # openCypher size(): element count of a list OR character
            # count of a string
            arg = e.args[0]
            if isinstance(arg, C.Lit) and isinstance(arg.value, str):
                return F.length(self._expr(arg, env)).cast("long")
            if (
                isinstance(arg, C.Var)
                and env.get(arg.name) is not None
                and env[arg.name].kind == "lambda"
                and env[arg.name].variant
            ):
                # lambda element of a variant array: probe both shapes
                c = env[arg.name].col
                return F.coalesce(
                    F.array_size(
                        F.try_variant_get(c, "$", "array<variant>")
                    ).cast("long"),
                    F.length(F.try_variant_get(c, "$", "string")).cast("long"),
                )
            if isinstance(arg, C.Prop):
                b, path, _ = self._resolve(arg, env)
                arr = F.try_variant_get(
                    F.col(f"{b.df_alias}.vdoc"), J.variant_path(path), "array<variant>"
                )
                st = F.try_variant_get(
                    F.col(f"{b.df_alias}.vdoc"), J.variant_path(path), "string"
                )
                return F.coalesce(
                    F.array_size(arr).cast("long"), F.length(st).cast("long")
                )
            return F.array_size(self._expr(arg, env)).cast("long")
        if n == "tail":
            c = self._expr(e.args[0], env)
            return F.slice(c, 2, F.greatest(F.array_size(c) - 1, F.lit(0)))
        if n == "nullif":
            return F.nullif(
                self._expr(e.args[0], env), self._expr(e.args[1], env)
            )
        if n == "length":
            [arg] = e.args
            if (
                isinstance(arg, C.Var)
                and arg.name in env
                and env[arg.name].kind == "value"
            ):
                # path variable bound by [p =] (shortestPath) — the
                # tracked hop count
                return F.col(env[arg.name].df_alias).cast("long")
            raise CypherCompileError(
                "length() needs a bound path variable (p = shortestPath(...) "
                "or p = fixed-length pattern)"
            )
        if n == "cost":
            [arg] = e.args
            if (
                isinstance(arg, C.Var)
                and arg.name in env
                and env[arg.name].kind == "value"
                and isinstance(env[arg.name].col, str)
            ):
                # path variable bound by [p =] over a WEIGHTed
                # shortestPath — the tracked minimum total weight
                return F.col(env[arg.name].col).cast("long")
            raise CypherCompileError(
                "cost() needs a weighted shortestPath path variable "
                "(p = shortestPath((a)-[*1..4 WEIGHT expr]->(b)))"
            )
        if n == "coalesce":
            return F.coalesce(*[self._operand(a, env, None) for a in e.args])
        if n == "round":
            c = self._operand(e.args[0], env, "number")
            scale = 0
            if len(e.args) > 1 and isinstance(e.args[1], C.Lit):
                scale = int(e.args[1].value)
            return F.round(c, scale)
        if n == "abs":
            return F.abs(self._operand(e.args[0], env, "number"))
        if n == "tobooleanornull":
            n = "toboolean"
        if n == "toboolean":
            # openCypher: only 'true'/'false' (any case) convert; every
            # other input → null.  A plain cast('boolean') would (a)
            # THROW under Spark's default ANSI mode on 'xyz' and (b)
            # accept '1'/'y'/'yes', both divergences.
            s = F.lower(self._operand(e.args[0], env, None).try_cast("string"))
            return (
                F.when(s == "true", F.lit(True))
                .when(s == "false", F.lit(False))
                .otherwise(F.lit(None).cast("boolean"))
            )
        if n == "substring":
            # openCypher substring() is 0-based; Column.substr is
            # 1-based.  Negative start/length (an error in Neo4j) maps
            # to null here — never to substr's wrap-around garbage.
            s = self._operand(e.args[0], env, "string")
            # Guard in LONG space before narrowing: a plain .cast("int")
            # on a start ≥ 2^31 (or start0+1 at Int.MaxValue) THROWS
            # under ANSI mode before any when() can catch it —
            # pathological starts must null out like negatives.
            start_l = self._operand(e.args[1], env, "number").try_cast("long")
            in_range = (start_l >= 0) & (start_l < F.lit(2147483647))
            start0 = F.when(in_range, start_l).otherwise(F.lit(0)).cast("int")
            if len(e.args) > 2:
                ln_l = self._operand(e.args[2], env, "number").try_cast("long")
                ln_ok = (ln_l >= 0) & (ln_l <= F.lit(2147483647))
                ln = F.when(ln_ok, ln_l).otherwise(F.lit(0)).cast("int")
                return F.when(in_range & ln_ok, s.substr(start0 + 1, ln))
            return F.when(in_range, s.substr(start0 + 1, F.lit(2147483647)))
        if n == "replace":
            return F.replace(
                self._operand(e.args[0], env, "string"),
                self._operand(e.args[1], env, "string"),
                self._operand(e.args[2], env, "string"),
            )
        if n in ("trim", "ltrim", "rtrim"):
            return getattr(F, n)(self._operand(e.args[0], env, "string"))
        if n == "split":
            # literal-delimiter split: quote the delimiter into the Java
            # regex (\Q…\E) so metacharacters split literally, and the
            # delimiter may itself be any string expression.  A literal
            # "\E" inside the delimiter would terminate the quote early
            # (then hit an illegal escape) — Pattern.quote's fix is to
            # stitch the quote back together around it: \E → \E\\E\Q.
            delim = self._operand(e.args[1], env, "string")
            quoted = F.replace(delim, F.lit("\\E"), F.lit("\\E\\\\E\\Q"))
            return F.split(
                self._operand(e.args[0], env, "string"),
                F.concat(F.lit("\\Q"), quoted, F.lit("\\E")),
            )
        if n == "reverse":
            # strings and lists both reverse (openCypher overload)
            return F.reverse(self._operand(e.args[0], env, None))
        if n == "left":
            return self._operand(e.args[0], env, "string").substr(
                F.lit(1), self._operand(e.args[1], env, "number").cast("int")
            )
        if n == "right":
            s = self._operand(e.args[0], env, "string")
            k = self._operand(e.args[1], env, "number").cast("int")
            # right(s, n) with n ≥ length(s) must return the whole
            # string; a plain negative-pos substring would wrap
            return F.when(k >= F.length(s), s).otherwise(
                F.substring(s, -k, k)
            )
        if n == "range":
            # range(start, end[, step]) — INCLUSIVE end.  openCypher
            # divergences from a bare F.sequence: an empty-direction
            # range (start > end with positive step, or a mismatched
            # step sign) is the EMPTY LIST, not a descending sequence
            # or a runtime error — guard before sequencing.
            if len(e.args) not in (2, 3):
                raise CypherCompileError("range() takes 2 or 3 arguments")
            # openCypher/Neo4j RAISE on a zero step; detect a constant
            # zero at compile time (a non-constant zero step still nulls
            # out at runtime via the direction guard below — the
            # compile-time path covers the typo'd-literal case).
            if len(e.args) == 3 and isinstance(e.args[2], C.Lit):
                try:
                    step_zero = float(e.args[2].value) == 0.0
                except (TypeError, ValueError):
                    step_zero = False
                if step_zero:
                    raise CypherCompileError("range() step must not be zero")
            args = [self._operand(a, env, "number").cast("long") for a in e.args]
            start, end = args[0], args[1]
            step = args[2] if len(args) == 3 else F.lit(1).cast("long")
            valid = ((step > 0) & (start <= end)) | ((step < 0) & (start >= end))
            return F.when(valid, F.sequence(start, end, step)).otherwise(
                F.array().cast("array<bigint>")
            )
        if n in ("head", "last"):
            # try_element_at: head([]) / last([]) are null in openCypher;
            # plain element_at THROWS on the empty list under ANSI mode
            lst = self._expr(e.args[0], env)
            return F.try_element_at(lst, F.lit(1) if n == "head" else F.lit(-1))
        if n == "is_of_model":
            # The installed plpgsql helper, callable from raw Cypher
            # (GraphInitialization.cs:50-121; docs/concepts/querying.mdx).
            # Compiles exactly like ADT QL's IS_OF_MODEL: the closure is
            # resolved at plan time and becomes an IN-list on the
            # promoted model_id column — partition-prunable, no UDF.
            if (
                not e.args
                or not isinstance(e.args[0], C.Var)
                or e.args[0].name not in env
            ):
                raise CypherCompileError(
                    "is_of_model() needs a bound twin variable as its first argument"
                )
            col = self._col(env[e.args[0].name], "model_id")
            arg2 = e.args[1] if len(e.args) > 1 else None
            if (
                isinstance(arg2, C.Func)
                and arg2.name.rsplit(".", 1)[-1] == "model_and_descendants"
            ):
                # is_of_model(t, g.model_and_descendants('id')) — the
                # helper returns [id]+descendants and is_of_model on a
                # list is array containment (GraphInitialization.cs:
                # 77-84), so this is exactly the non-exact closure
                if not (
                    arg2.args
                    and isinstance(arg2.args[0], C.Lit)
                    and isinstance(arg2.args[0].value, str)
                ):
                    raise CypherCompileError(
                        "model_and_descendants() needs a literal model-id string"
                    )
                return col.isin(
                    self.store.model_and_descendants(arg2.args[0].value)
                )
            if isinstance(arg2, C.ListLit):
                # literal list → direct containment, no closure expansion
                vals = []
                for item in arg2.items:
                    if not (
                        isinstance(item, C.Lit)
                        and isinstance(item.value, str)
                    ):
                        raise CypherCompileError(
                            "is_of_model() list elements must be string literals"
                        )
                    vals.append(item.value)
                return col.isin(vals)
            if not (isinstance(arg2, C.Lit) and isinstance(arg2.value, str)):
                raise CypherCompileError(
                    "is_of_model() needs a literal model-id string"
                )
            exact = False
            if len(e.args) > 2:
                if not (
                    isinstance(e.args[2], C.Lit)
                    and isinstance(e.args[2].value, bool)
                ):
                    raise CypherCompileError(
                        "is_of_model() exact flag must be a boolean literal"
                    )
                exact = e.args[2].value
            model = arg2.value
            if exact:
                return col == model
            return col.isin(self.store.model_and_descendants(model))
        if n == "model_and_descendants":
            # standalone: plan-time closure as an array literal
            if not (
                e.args
                and isinstance(e.args[0], C.Lit)
                and isinstance(e.args[0].value, str)
            ):
                raise CypherCompileError(
                    "model_and_descendants() needs a literal model-id string"
                )
            mid = e.args[0].value
            closure = self.store.model_and_descendants(mid)
            # the helper returns itself + descendants
            # (GraphInitialization.cs:239-262); descendants sorted for a
            # deterministic rendering
            rest = sorted(m for m in closure if m != mid)
            return F.array(*[F.lit(m) for m in [mid] + rest])
        if n in ("is_number", "is_string", "is_object", "is_primitive"):
            # per-graph agtype introspection helpers
            # (GraphInitialization.cs:187-238) — same semantics as ADT
            # QL's IS_NUMBER/IS_STRING/IS_OBJECT/IS_PRIMITIVE; numeric
            # strings are NOT numbers (age_tostring(val) = val check)
            if len(e.args) != 1 or not isinstance(e.args[0], C.Prop):
                raise CypherCompileError(f"{n}() needs a property argument")
            b, path, promoted = self._resolve(e.args[0], env)
            if b.kind == "value":
                raise CypherCompileError(
                    f"{n}() on a projected value is not supported — "
                    "apply it before the WITH"
                )
            if promoted:
                c = self._col(b, promoted)
                # promoted columns are strings except model.decommissioned
                # (BOOLEAN): agtype semantics say a boolean is primitive
                # but NOT a string
                is_bool_col = promoted == "decommissioned"
                return {
                    "is_number": F.lit(False),
                    "is_object": F.lit(False),
                    "is_string": (
                        F.lit(False) if is_bool_col else c.isNotNull()
                    ),
                    "is_primitive": c.isNotNull(),
                }[n]
            if b.df_alias.startswith("__o_"):
                v = J.vget(F.col(f"{b.df_alias}__vdoc"), path)
                s = F.schema_of_variant(v)
            else:
                s = self._shared_s(b.df_alias, tuple(path))
            return {
                "is_number": J.is_number_of,
                "is_string": J.is_string_of,
                "is_object": J.is_object_of,
                "is_primitive": J.is_primitive_of,
            }[n](s)
        if n == "l2_distance":
            a = self._vector(e.args[0], env)
            b = self._vector(e.args[1], env)
            return F.sqrt(
                F.aggregate(
                    F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            )
        # openCypher math/misc scalar family (AGE ships these as plain
        # Cypher functions) — all JVM built-ins, numeric operand typed
        _MATH1 = {
            "sqrt": F.sqrt, "exp": F.exp, "log": F.log, "log10": F.log10,
            "sin": F.sin, "cos": F.cos, "tan": F.tan, "cot": F.cot,
            "asin": F.asin, "acos": F.acos, "atan": F.atan,
            "degrees": F.degrees, "radians": F.radians,
            "floor": F.floor, "ceil": F.ceil,
        }
        if n in _MATH1:
            return _MATH1[n](self._operand(e.args[0], env, "number"))
        if n == "sign":
            return F.signum(
                self._operand(e.args[0], env, "number")
            ).cast("long")
        if n == "atan2":
            return F.atan2(
                self._operand(e.args[0], env, "number"),
                self._operand(e.args[1], env, "number"),
            )
        if n == "haversin":
            # haversin(x) = sin²(x/2)
            half = F.sin(self._operand(e.args[0], env, "number") / 2)
            return half * half
        if n == "pi":
            return F.lit(3.141592653589793)
        if n == "e":
            return F.lit(2.718281828459045)
        if n == "rand":
            return F.rand()
        if n == "isempty":
            # isEmpty: '' / [] / {} → true; null → null
            arg = e.args[0]
            c = self._expr(arg, env)
            if isinstance(arg, C.Lit) and isinstance(arg.value, str):
                return F.length(c) == 0
            if isinstance(arg, C.ListLit):
                return F.array_size(c) == 0
            if isinstance(arg, C.Prop):
                # dynamic property: probe the variant as an array (list
                # values), a map (object values — keys), and a string,
                # mirroring size()'s multi-shape probe.  The string-only
                # cast fails on arrays/objects, which previously made
                # isEmpty([]) return NULL instead of true.
                b, path, _ = self._resolve(arg, env)
                vp = J.variant_path(path)
                arr = F.try_variant_get(
                    F.col(f"{b.df_alias}.vdoc"), vp, "array<variant>"
                )
                obj = F.try_variant_get(
                    F.col(f"{b.df_alias}.vdoc"), vp, "map<string,variant>"
                )
                st = F.try_variant_get(
                    F.col(f"{b.df_alias}.vdoc"), vp, "string"
                )
                return F.coalesce(
                    F.array_size(arr) == 0,
                    F.size(F.map_keys(obj)) == 0,
                    F.length(st) == 0,
                )
            # other dynamic operands: string form length
            sc = self._operand(arg, env, "string")
            return F.when(
                sc.isNotNull(), F.length(sc) == 0
            ).otherwise(F.lit(None).cast("boolean"))
        if n == "timestamp":
            # milliseconds since epoch at query time (AGE/Neo4j
            # timestamp() is statement-stable; unix_millis of the
            # statement's current_timestamp matches that contract)
            return F.unix_millis(F.current_timestamp())
        if n in ("date", "datetime", "localdatetime"):
            # minimal temporal constructors: ISO-string (or string
            # property) → typed date/timestamp, NULL on unparsable —
            # enough for comparisons/ordering/grouping over ISO-dated
            # properties (the $metadata.$lastUpdateTime shape).  The
            # full Neo4j temporal component/duration algebra is out of
            # scope (documented bound).
            target = "date" if n == "date" else "timestamp"
            if not e.args:
                return (
                    F.current_date()
                    if n == "date"
                    else F.current_timestamp()
                )
            return self._operand(e.args[0], env, "string").try_cast(target)
        if n in (
            "date.truncate", "datetime.truncate", "localdatetime.truncate"
        ):
            # Neo4j temporal truncation — datetime.truncate('month', d)
            # zeroes every component below the unit (the openCypher
            # idiom for time-bucketed rollups).  Spark date_trunc
            # matches Neo4j's unit semantics (week → Monday).
            if (
                len(e.args) != 2
                or not isinstance(e.args[0], C.Lit)
                or not isinstance(e.args[0].value, str)
            ):
                raise CypherCompileError(
                    f"{n}() takes a unit string literal and a temporal "
                    "value, e.g. datetime.truncate('month', d)"
                )
            unit = e.args[0].value.lower()
            is_date = n == "date.truncate"
            allowed = (
                ("year", "quarter", "month", "week", "day")
                if is_date
                else (
                    "year", "quarter", "month", "week", "day",
                    "hour", "minute", "second",
                )
            )
            if unit not in allowed:
                raise CypherCompileError(
                    f"{n}(): unsupported unit {unit!r} — one of "
                    f"{list(allowed)}"
                )
            base = (
                self._expr(e.args[1], env)
                if self._temporal_kind(e.args[1], env) == "temporal"
                else self._operand(e.args[1], env, "string").try_cast(
                    "timestamp"
                )
            )
            if is_date:
                # date-typed result; day truncation is the identity
                d = base.cast("date")
                return d if unit == "day" else F.trunc(d, unit)
            return F.date_trunc(unit, base.cast("timestamp"))
        if n in ("time", "localtime"):
            # Spark has no time-of-day type, so time values render as
            # fixed-width ISO 'HH:mm:ss' strings — lexicographic order
            # IS chronological order, so comparisons/grouping/sorting
            # behave like Neo4j's local time (documented divergence:
            # no fractional seconds or offsets; see PARITY.md)
            if not e.args:
                return F.date_format(F.current_timestamp(), "HH:mm:ss")
            base = (
                self._expr(e.args[0], env)
                if self._temporal_kind(e.args[0], env) == "temporal"
                else self._operand(e.args[0], env, "string").try_cast(
                    "timestamp"
                )
            )
            return F.date_format(base.cast("timestamp"), "HH:mm:ss")
        if n == "duration":
            # duration('P30D') — ISO-8601 duration LITERAL → Spark
            # interval (plan-time parse; see _duration_interval for the
            # calendar-vs-clock family bound)
            if not (
                len(e.args) == 1
                and isinstance(e.args[0], C.Lit)
                and isinstance(e.args[0].value, str)
            ):
                raise CypherCompileError(
                    "duration() takes one ISO-8601 string literal, "
                    "e.g. duration('P30D')"
                )
            return _duration_interval(e.args[0].value)
        if n == "duration.between":
            # duration.between(from, to) — the elapsed interval
            # ``to − from`` on native temporal types (timestamps yield
            # a day-time interval, dates an interval-day)
            if len(e.args) != 2:
                raise CypherCompileError(
                    "duration.between() takes exactly two temporal "
                    "arguments"
                )
            a = self._expr(e.args[0], env)
            b2 = self._expr(e.args[1], env)
            return b2 - a
        raise CypherCompileError(f"Unknown function {n}()")

    def _vector(self, e: C.Expr, env) -> Column:
        if isinstance(e, C.ListLit):
            return F.array(
                *[self._operand(i, env, "number").cast("double") for i in e.items]
            )
        if isinstance(e, C.Prop):
            b, path, _ = self._resolve(e, env)
            if b.kind == "model" and path == ["embedding"]:
                return F.col(f"{b.df_alias}.embedding").cast("array<double>")
            return F.try_variant_get(
                F.col(f"{b.df_alias}.vdoc"), J.variant_path(path), "array<double>"
            )
        raise CypherCompileError("l2_distance needs vector operands")

    def _aggregate(self, e: C.Func, env) -> Column:
        if e.name == "count":
            if e.star:
                return F.count(F.lit(1))
            c = self._operand(e.args[0], env, None)
            return F.count_distinct(c) if e.distinct else F.count(c)
        c_num = self._operand(e.args[0], env, "number")
        if e.name == "sum":
            return F.sum(c_num)
        if e.name == "avg":
            return F.avg(c_num)
        if e.name in ("min", "max"):
            return self._minmax(e, env)
        if e.name == "collect":
            c = self._operand(e.args[0], env, None)
            return F.collect_set(c) if e.distinct else F.collect_list(c)
        if e.name == "stdev":
            return F.stddev_samp(c_num)
        if e.name == "stdevp":
            return F.stddev_pop(c_num)
        if e.name in ("percentilecont", "percentiledisc"):
            if len(e.args) < 2 or not isinstance(e.args[1], C.Lit):
                raise CypherCompileError(
                    f"{e.name}() requires a literal percentile argument"
                )
            pct = float(e.args[1].value)
            if e.name == "percentilecont":
                # linear interpolation between ranks — Spark's exact
                # percentile matches Neo4j's percentileCont
                return F.percentile(c_num, F.lit(pct))
            # discrete: the nearest actual value; percentile_approx at
            # max accuracy degenerates to the exact discrete percentile
            return F.percentile_approx(c_num, F.lit(pct), F.lit(2147483647))
        raise CypherCompileError(f"Unknown aggregate {e.name}")  # pragma: no cover

    def _minmax(self, e: C.Func, env) -> Column:
        """min()/max() with agtype-ordered comparison.

        AGE compares agtype values with a typed total order — numbers
        numerically, strings lexicographically, numbers before strings
        (the reference executes aggregates inside AGE's btree ordering).
        Aggregating the loose-string rendering instead compares
        lexicographically, so ``max`` over [9, 10, 2] returned ``'9'``.
        For dynamically-typed (variant) properties we aggregate a
        ``(type_rank, numeric, string, repr)`` struct — Spark orders
        structs field-by-field — and emit the winner's loose-string
        repr, the engine's untyped-projection convention.  Promoted
        columns and typed expressions keep their natural ordering."""
        arg = e.args[0]
        fn = F.min if e.name == "min" else F.max
        if isinstance(arg, C.Prop):
            b, path, promoted = self._resolve(arg, env)
            if b.kind == "value":
                c = F.col(b.df_alias)
                if b.df_alias in self._value_variant:
                    return self._minmax_variant(fn, c, F.schema_of_variant(c))
                return fn(c)
            if promoted:
                return fn(self._col(b, promoted))
            if b.df_alias.startswith("__o_"):
                v = J.vget(F.col(f"{b.df_alias}__vdoc"), path)
                s = F.schema_of_variant(v)
            else:
                v = self._shared_v(b.df_alias, tuple(path))
                s = self._shared_s(b.df_alias, tuple(path))
            return self._minmax_variant(fn, v, s)
        return fn(self._operand(arg, env, None))

    @staticmethod
    def _agtype_order_struct(v: Column, s: Column) -> Column:
        """agtype total-order key for a variant value: Spark orders
        structs field-by-field, so (type_rank, numeric, string, repr)
        sorts numbers numerically before strings lexicographically —
        AGE's btree order."""
        rank = (
            F.when(J.is_number_of(s), F.lit(0))
            .when(J.is_string_of(s), F.lit(1))
            .when(J.is_bool_of(s), F.lit(2))
            .otherwise(F.lit(3))
        )
        return F.when(
            J.is_defined_of(v),
            F.struct(
                rank.alias("r"),
                J.num_of(v, s).alias("n"),
                J.str_of(v, s).alias("s"),
                J.loose_str_of(v).alias("repr"),
            ),
        )

    @classmethod
    def _minmax_variant(cls, fn, v: Column, s: Column) -> Column:
        return fn(cls._agtype_order_struct(v, s)).getField("repr")

    @staticmethod
    def _repr_order(c: Column) -> Column:
        """Typed ordering for an already-projected loose-string column
        (post-DISTINCT / post-aggregation, where the variant source is
        gone): numeric renderings sort numerically before strings —
        same shape as the agtype order, recovered from the repr."""
        as_num = c.try_cast("double")
        return F.struct(
            F.when(as_num.isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("r"),
            as_num.alias("n"),
            c.alias("s"),
        )

    def _order_expr(
        self, e: C.Expr, env: dict, q: C.SingleQuery, names: list[str]
    ) -> tuple[Column, bool]:
        """ORDER BY key with agtype ordering; returns (column, is_plain)
        where is_plain means "just the projected output column" (no
        extra sort column needed).  Variant property accesses order by
        the typed struct, not their loose-string rendering (``ORDER BY
        t.val`` over [9, 10, 2] must give 2 < 9 < 10); an alias
        referencing a projected variant expression re-derives the typed
        key from the source expression."""
        if isinstance(e, C.Var) and e.name in names:
            src = next(
                (it.expr for it, nm in zip(q.ret, names) if nm == e.name), None
            )
            if isinstance(src, (C.Prop, C.Var)):
                e = src  # re-derive the typed key from the source
            else:
                return F.col(e.name), True
        if isinstance(e, C.Var) and e.name in env:
            b = env[e.name]
            if b.kind == "value":
                # an UNWIND / WITH value column: VARIANT values cannot
                # sort raw — order by the agtype-typed struct, same as
                # variant property accesses
                c = F.col(b.df_alias)
                if b.df_alias in self._value_variant:
                    return (
                        self._agtype_order_struct(c, F.schema_of_variant(c)),
                        False,
                    )
                return c, False
        if isinstance(e, C.Prop):
            b, path, promoted = self._resolve(e, env)
            if b.kind == "value":
                c = F.col(b.df_alias)
                if b.df_alias in self._value_variant:
                    return self._agtype_order_struct(c, F.schema_of_variant(c)), False
                return c, False
            if promoted:
                return self._col(b, promoted), False
            if b.df_alias.startswith("__o_"):
                v = J.vget(F.col(f"{b.df_alias}__vdoc"), path)
                s = F.schema_of_variant(v)
            else:
                v = self._shared_v(b.df_alias, tuple(path))
                s = self._shared_s(b.df_alias, tuple(path))
            return self._agtype_order_struct(v, s), False
        return self._expr(e, env), False

    # ------------------------------------------------------------------
    # RETURN
    # ------------------------------------------------------------------
    def _item_name(self, item: C.ReturnItem, idx: int) -> str:
        if item.alias:
            return item.alias
        e = item.expr
        if isinstance(e, C.Prop):
            return e.path[-1].lstrip("$")
        if isinstance(e, C.Var):
            return e.name
        if isinstance(e, C.Func):
            return e.name
        return f"col{idx}"

    def _return(self, df: DataFrame, env: dict[str, Binding], q: C.SingleQuery) -> DataFrame:
        import dataclasses as _dc

        if q.ret_star:
            # RETURN * — every NAMED variable in scope, in binding
            # order (anonymous pattern elements get ``__``-prefixed
            # aliases and are not user-visible); explicit extra items
            # follow per openCypher's `RETURN *, expr`
            star = [
                C.ReturnItem(C.Var(nm), None)
                for nm in env
                if not nm.startswith("__")
            ]
            if not star:
                raise CypherCompileError(
                    "RETURN * requires at least one named variable"
                )
            q = _dc.replace(q, ret=star + list(q.ret), ret_star=False)
        # COUNT { … } subqueries join their pre-aggregated counts onto
        # the frame before item compilation (correlated scalar COUNT)
        new_ret = []
        for it in q.ret:
            df, ex = self._replace_count_subs(df, env, it.expr)
            new_ret.append(C.ReturnItem(ex, it.alias))
        new_ob = []
        for ex, asc in q.order_by:
            df, ex2 = self._replace_count_subs(df, env, ex)
            new_ob.append((ex2, asc))
        q = _dc.replace(q, ret=new_ret, order_by=new_ob)
        names = [self._item_name(it, i) for i, it in enumerate(q.ret)]
        if len(set(names)) != len(names):
            raise CypherCompileError(f"Duplicate return names {names}")
        aggregated = any(C.has_aggregate(it.expr) for it in q.ret)
        if aggregated:
            keys = [
                (self._expr(it.expr, env), nm)
                for it, nm in zip(q.ret, names)
                if not C.has_aggregate(it.expr)
            ]
            aggs = [
                (self._expr(it.expr, env), nm)
                for it, nm in zip(q.ret, names)
                if C.has_aggregate(it.expr)
            ]
            df = self._inject(df)
            if keys:
                df = df.groupBy(*[c.alias(n) for c, n in keys]).agg(
                    *[c.alias(n) for c, n in aggs]
                )
                df = df.select(*names)
            else:
                df = df.agg(*[c.alias(n) for c, n in aggs])
        elif q.distinct:
            # Cypher applies DISTINCT before ORDER BY/SKIP/LIMIT: dedupe
            # the projected rows FIRST, then sort, then slice.  The old
            # orderBy→distinct order let the distinct shuffle discard
            # the sort, so SKIP/LIMIT sliced arbitrary rows.  With
            # DISTINCT, ORDER BY may only reference projected values
            # (openCypher semantics — pre-projection columns are gone).
            cols = [self._expr(it.expr, env).alias(nm) for it, nm in zip(q.ret, names)]
            df = self._inject(df).select(*cols).distinct()
            if q.order_by:
                dtypes = dict(df.dtypes)
                specs = []
                for e, asc in q.order_by:
                    nm = self._distinct_order(e, q, names)
                    # post-projection the variant source is gone; loose-
                    # string renderings get the recovered typed order
                    oc = (
                        self._repr_order(F.col(nm))
                        if dtypes.get(nm) == "string"
                        else F.col(nm)
                    )
                    specs.append(oc.asc_nulls_last() if asc else oc.desc_nulls_first())
                df = df.orderBy(*specs)
        else:
            cols = [self._expr(it.expr, env).alias(nm) for it, nm in zip(q.ret, names)]
            extra: list[Column] = []
            order_specs: list[Column] = []
            for i, (e, asc) in enumerate(q.order_by):
                oe, plain = self._order_expr(e, env, q, names)
                if plain:
                    oc = oe
                else:
                    extra.append(oe.alias(f"__ord{i}"))
                    oc = F.col(f"__ord{i}")
                order_specs.append(oc.asc_nulls_last() if asc else oc.desc_nulls_first())
            df = self._inject(df)
            if q.order_by:
                df = df.select(*cols, *extra).orderBy(*order_specs).select(*names)
            else:
                df = df.select(*cols)
        if aggregated and q.distinct:
            df = df.distinct()
        if aggregated and q.order_by:
            dtypes = dict(df.dtypes)
            specs = []
            for e, asc in q.order_by:
                nm = self._output_order(e, names)
                oc = (
                    self._repr_order(F.col(nm))
                    if dtypes.get(nm) == "string"
                    else F.col(nm)
                )
                specs.append(oc.asc_nulls_last() if asc else oc.desc_nulls_first())
            df = df.orderBy(*specs)
        if q.skip:
            df = df.offset(q.skip)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def _output_order(self, e: C.Expr, names: list[str]) -> str:
        if isinstance(e, C.Var) and e.name in names:
            return e.name
        raise CypherCompileError(
            "ORDER BY after aggregation must reference an output alias"
        )

    def _distinct_order(self, e: C.Expr, q: C.SingleQuery, names: list[str]) -> str:
        """Resolve an ORDER BY expression against the DISTINCT
        projection to a projected column name: an output alias, or an
        expression textually equal to a projected one (AST dataclasses
        compare structurally)."""
        if isinstance(e, C.Var) and e.name in names:
            return e.name
        for it, nm in zip(q.ret, names):
            if it.expr == e:
                return nm
        raise CypherCompileError(
            "ORDER BY with DISTINCT must reference projected expressions"
        )


def _lit_kind(e: C.Expr) -> str | None:
    if isinstance(e, C.Lit) and e.kind in ("string", "number", "bool"):
        return e.kind
    return None


def _cy_conjuncts(e: C.Expr) -> list:
    if isinstance(e, C.And):
        out: list = []
        for item in e.items:
            out.extend(_cy_conjuncts(item))
        return out
    return [e]


def _aliases_of(cols: list) -> list[str]:
    """Output names of a list of aliased Columns (via their expression
    string — PySpark Columns carry no public name accessor)."""
    out = []
    for c in cols:
        # Column repr: Column<'... AS name'>
        r = str(c)
        name = r.rsplit(" AS ", 1)[-1].rstrip(">'`").lstrip("`")
        out.append(name)
    return out


def _is_key_name(col_name: str, new_env: dict) -> bool:
    """True when a flat column is an entity identity key (or a plain
    value grouping item)."""
    for nm, b in new_env.items():
        prefix = f"__o_{nm}__"
        if col_name.startswith(prefix):
            return col_name[len(prefix):] in (
                "dt_id", "relationship_id", "source_id"
            )
        if col_name == nm and b.kind == "value":
            return True
    return False


def _cy_expr_rename(e, mapping: dict):
    """Copy of an expression AST with variable references renamed
    (generic dataclass walk) — used to re-anchor an OPTIONAL MATCH's
    WHERE onto the rebound anchor alias."""
    import dataclasses as _dc

    if isinstance(e, C.Var):
        return C.Var(mapping.get(e.name, e.name)) if e.name in mapping else e
    if isinstance(e, C.Prop) and e.var in mapping:
        return _dc.replace(e, var=mapping[e.var])
    if _dc.is_dataclass(e) and not isinstance(e, type):
        changes = {}
        for f in _dc.fields(e):
            v = getattr(e, f.name)
            if isinstance(v, (list, tuple)):
                new_items = []
                dirty = False
                for item in v:
                    if isinstance(item, tuple):
                        nt = tuple(
                            _cy_expr_rename(sub, mapping)
                            if _dc.is_dataclass(sub) and not isinstance(sub, type)
                            else sub
                            for sub in item
                        )
                        dirty = dirty or any(a is not b for a, b in zip(nt, item))
                        new_items.append(nt)
                    elif _dc.is_dataclass(item) and not isinstance(item, type):
                        ni = _cy_expr_rename(item, mapping)
                        dirty = dirty or ni is not item
                        new_items.append(ni)
                    else:
                        new_items.append(item)
                if dirty:
                    changes[f.name] = type(v)(new_items)
            elif _dc.is_dataclass(v) and not isinstance(v, type):
                nv = _cy_expr_rename(v, mapping)
                if nv is not v:
                    changes[f.name] = nv
        return _dc.replace(e, **changes) if changes else e
    return e


def _cy_expr_aliases(e, out: set | None = None) -> set:
    """Variable names an expression references (generic AST walk)."""
    import dataclasses as _dc

    out = set() if out is None else out
    if isinstance(e, C.Var):
        out.add(e.name)
        return out
    if isinstance(e, C.Prop):
        out.add(e.var)
        return out
    if _dc.is_dataclass(e) and not isinstance(e, type):
        for f in _dc.fields(e):
            v = getattr(e, f.name)
            items = v if isinstance(v, (list, tuple)) else [v]
            for item in items:
                if isinstance(item, tuple):  # Case whens pairs
                    for sub in item:
                        if _dc.is_dataclass(sub) and not isinstance(sub, type):
                            _cy_expr_aliases(sub, out)
                elif _dc.is_dataclass(item) and not isinstance(item, type):
                    _cy_expr_aliases(item, out)
    return out


def compile_cypher(store: GraphStore, text: str) -> DataFrame:
    c = CypherCompiler(store)
    df = c.compile(parse_cypher(text))
    if c.cartesian_products:
        # charge surcharge signal for the client (Query.cs-style charge
        # arithmetic is text-regex-based; cartesians need compiler
        # knowledge — comma-separated paths that SHARE a variable are
        # NOT cartesian)
        df._pgage_cartesians = c.cartesian_products
    return df
