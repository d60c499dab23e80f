"""Client facade — the engine's user-facing API.

Mirrors the reference SDK's surface (``AgeDigitalTwinsClient``): query
with pagination, twin/relationship/component/model CRUD with ETag
optimistic concurrency, telemetry publish, and a change log feeding the
event pipeline.  Mutations are snapshot-functional (each op swaps in a
new GraphStore) — the Delta ``MERGE INTO`` equivalent is the
cluster-deployment story (SURVEY.md §3.2).
"""

from __future__ import annotations

import base64
import json
import re
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame

from pg_age_digitaltwins_spark import crud
from pg_age_digitaltwins_spark.adtql.compiler import QueryCompiler
from pg_age_digitaltwins_spark.adtql.parser import parse
from pg_age_digitaltwins_spark.store.graph_store import GraphStore
from pg_age_digitaltwins_spark.streaming.changes import ChangeLog
from pg_age_digitaltwins_spark.validation import ModelRegistry


@dataclass
class QueryPage:
    rows: list[dict]
    continuation_token: str | None
    charge: float = 0.0


def _shape_rows(rows: "list[dict]", df) -> "list[dict]":
    """Re-shape whole-entity columns for the API surface: the compiler
    keeps documents as JSON strings in the DataFrame (stable for
    SQL/oracle consumers) and marks them via ``_pgage_doc_cols``;
    here they become parsed objects, and a single-alias ``SELECT *``
    flattens to the bare document — reference row shape
    (``SELECT * FROM DIGITALTWINS`` yields ``$dtId`` at the root,
    QueryTests.cs:539-656)."""
    doc_cols = getattr(df, "_pgage_doc_cols", None)
    if not doc_cols:
        return rows
    flatten = getattr(df, "_pgage_flatten", False)
    out = []
    for r in rows:
        r = dict(r)
        for c in doc_cols:
            v = r.get(c)
            if isinstance(v, str):
                try:
                    r[c] = json.loads(v)
                except ValueError:  # pragma: no cover — malformed doc
                    pass
        if flatten and len(r) == 1 and isinstance(r.get(doc_cols[0]), dict):
            r = r[doc_cols[0]]
        out.append(r)
    return out


def _jsonable(v):
    """Row values → JSON-typed Python: VariantType columns (dynamic
    properties reaching RETURN unconverted, e.g. ``UNWIND t.xs``)
    collect as ``VariantVal``, which would break every JSON consumer
    downstream (the reference returns agtype-decoded JSON values)."""
    try:
        from pyspark.sql.types import VariantVal
    except ImportError:  # pragma: no cover
        VariantVal = ()
    if isinstance(v, VariantVal):
        return v.toPython()
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    return v


def _cypher_paging_order(df: DataFrame):
    """Impose a deterministic total order on an un-ORDERed Cypher
    result for paging: typed (orderable) output columns sort natively —
    and first, so ties rarely reach the expensive ones — while complex
    columns (variant/array/struct) sort through a string rendering
    added as hidden ``__ks{i}`` columns.  Returns (ordered df, the sort
    column names) so the pager can keyset on exactly the same order."""
    from pyspark.sql import functions as F, types as T

    native_types = (
        T.StringType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
        T.LongType, T.FloatType, T.DoubleType, T.DecimalType, T.DateType,
        T.TimestampType, T.TimestampNTZType,
    )
    native = [f.name for f in df.schema.fields if isinstance(f.dataType, native_types)]
    complex_ = [f.name for f in df.schema.fields if f.name not in native]
    sort_cols = list(native)
    for i, c in enumerate(complex_):
        df = df.withColumn(f"__ks{i}", F.col(c).cast("string"))
        sort_cols.append(f"__ks{i}")
    return df.orderBy(*sort_cols), sort_cols


def _keyset_ge(cols: list, vals: list):
    """Lexicographic ``(cols) >= (vals)`` under Spark's default
    ascending-nulls-first order (``a > lit(v)`` is null-safe false for
    null ``a``, which is exactly nulls-first semantics)."""
    from pyspark.sql import functions as F

    def gt(c, v):
        return c.isNotNull() if v is None else c > F.lit(v)

    def eq(c, v):
        return c.isNull() if v is None else c == F.lit(v)

    or_terms = []
    prefix_eq = None
    for c, v in zip(cols, vals):
        term = gt(c, v) if prefix_eq is None else prefix_eq & gt(c, v)
        or_terms.append(term)
        prefix_eq = eq(c, v) if prefix_eq is None else prefix_eq & eq(c, v)
    or_terms.append(prefix_eq)
    pred = or_terms[0]
    for t in or_terms[1:]:
        pred = pred | t
    return pred


def _token_encode_val(v):
    import datetime
    from decimal import Decimal

    if isinstance(v, datetime.datetime):
        return {"__t": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__d": v.isoformat()}
    if isinstance(v, Decimal):
        return {"__n": str(v)}
    return v


def _token_decode_val(v):
    import datetime
    from decimal import Decimal

    if isinstance(v, dict):
        if "__t" in v:
            return datetime.datetime.fromisoformat(v["__t"])
        if "__d" in v:
            return datetime.date.fromisoformat(v["__d"])
        if "__n" in v:
            return Decimal(v["__n"])
    return v


# Detection regexes lifted from the reference's generated patterns
# (``AgeDigitalTwinsClient.Query.cs:295-306`` VariableLengthEdgeRegex,
# ``Query.cs:245-255`` aggregate keyword scan).
_VAR_LEN_RE = re.compile(r"\[[^\]]*(?::\w*)?\*[\d.]*\]", re.IGNORECASE)
_AGG_RE = re.compile(r"COUNT|SUM|AVG|MIN|MAX|is_of_model", re.IGNORECASE)


def compute_query_charge(
    rows: list[dict], query: str, cartesian_products: int = 0
) -> float:
    """Reference arithmetic (``Query.cs:240-257``): page rows + total
    top-level properties, +10 for a variable-length edge query, +5 when
    the text contains an aggregate or ``IS_OF_MODEL``.  Beyond the
    reference: +10 per disconnected-pattern cartesian product (compiler-
    reported — text regexes cannot tell ``MATCH (a), (b)`` apart from
    comma-paths sharing a variable), pricing the blowup like the
    var-length surcharge prices traversal closures."""
    charge = float(len(rows))
    for row in rows:
        charge += len(row)
    if _VAR_LEN_RE.search(query):
        charge += 10
    if _AGG_RE.search(query):
        charge += 5
    charge += 10.0 * cartesian_products
    return charge


class DigitalTwinsSparkClient:
    def __init__(self, store: GraphStore, graph_name: str = "digitaltwins"):
        self.store = store
        self.changes = ChangeLog(graph_name)
        self.telemetry_events: list[dict[str, Any]] = []
        self._registry: ModelRegistry | None = None
        # (query, order_for_paging) -> (store-at-compile-time, plan)
        self._plan_cache: dict[tuple, tuple] = {}

    # ------------------------------------------------------------------
    # query (read path, SURVEY §3.1)
    # ------------------------------------------------------------------
    def register_views(self, prefix: str = "") -> None:
        """Expose the graph as Spark SQL temp views (``twins``,
        ``relationships``, ``models``, ``model_edges``, optionally
        prefixed) so analysts can drop below the ADT QL / Cypher
        dialects and run raw ``spark.sql`` over the same snapshots —
        the escape hatch a Spark-native engine owes its users.  Views
        track the CURRENT store; re-register after mutations swap the
        snapshot (or call this from a post-mutation hook)."""
        s = self.store
        s.twins.createOrReplaceTempView(f"{prefix}twins")
        s.relationships.createOrReplaceTempView(f"{prefix}relationships")
        s.models.createOrReplaceTempView(f"{prefix}models")
        s.model_edges.createOrReplaceTempView(f"{prefix}model_edges")

    def query_df(self, query: str, order_for_paging: bool = False) -> DataFrame:
        """Compile a query to a DataFrame (lazy).

        Dialect detection mirrors the reference (``Query.cs:44-55``):
        contains SELECT and no RETURN → ADT QL; otherwise raw Cypher.

        Compiled plans are cached per (store snapshot, query text):
        DataFrames are immutable, so re-executing a cached plan is
        safe, and keyset pagination — which recompiles the same query
        once per page — stops paying parse+compile per page.  The
        cache entry pins the store object it compiled against and is
        valid only while that exact store is current (mutations swap
        ``self.store``, naturally invalidating), which also makes an
        ``id()``-reuse collision impossible."""
        key = (query, order_for_paging)
        hit = self._plan_cache.get(key)
        if hit is not None and hit[0] is self.store:
            return hit[1]
        if self.detect_dialect(query) == "adt":
            df = QueryCompiler(self.store).compile(parse(query), order_for_paging)
        else:
            from pg_age_digitaltwins_spark.cypher import compile_cypher

            df = compile_cypher(self.store, query)
        if len(self._plan_cache) >= 64:
            self._plan_cache.pop(next(iter(self._plan_cache)))
        self._plan_cache[key] = (self.store, df)
        return df

    @staticmethod
    def detect_dialect(query: str) -> str:
        import re as _re

        has_select = _re.search(r"\bSELECT\b", query, _re.IGNORECASE)
        has_return = _re.search(r"\bRETURN\b", query, _re.IGNORECASE)
        return "adt" if (has_select and not has_return) else "cypher"

    def explain(self, query: str, mode: str = "formatted") -> str:
        """The query's physical plan as text — the diagnostics parity
        for the reference's EXPLAIN ANALYZE pass-through
        (``QueryTests.cs:1309`` ExplainAnalyze_IsOfModel): where the
        reference surfaces the Postgres plan, this surfaces the Spark
        plan (scan pushdown / partition pruning / join strategies) for
        either dialect.  ``mode``: formatted | simple | extended |
        codegen | cost."""
        df = self.query_df(query)
        return df._jdf.queryExecution().explainString(
            self.store.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
        )

    def query(
        self,
        query: str,
        max_items_per_page: int | None = None,
        continuation_token: str | None = None,
    ) -> QueryPage:
        """Paged execution with continuation tokens.

        Tokens embed the query like the reference
        (``Models/ContinuationToken.cs:9-16``) but are KEYSET tokens
        wherever the engine controls the page order: base64
        ``{"_ks": [last sort-key values], "_kd": <boundary-dup skip>,
        "_q": <query>}`` — the next page filters ``sort_key >= _ks``
        and skips ``_kd`` boundary duplicates, so page N costs the same
        as page 1 (offset re-execution is O(pages²) at scale).  The ADT
        path keysets on the compiler's hidden ``__pk*`` primary-key
        columns; un-ORDERed Cypher keysets on a deterministic order over
        the output columns (typed columns natively, complex columns via
        a string rendering — only those get cast).  Only explicit
        Cypher ORDER BY falls back to offset tokens
        (``{"_tr": <row offset>}``): its sort keys are arbitrary
        expressions that need not appear in the projection."""
        tok: dict[str, Any] = {}
        if continuation_token:
            tok = json.loads(base64.b64decode(continuation_token))
            query = tok["_q"]
        paging = max_items_per_page is not None
        df = self.query_df(query, order_for_paging=paging)
        cartesians = getattr(df, "_pgage_cartesians", 0)
        if not paging:
            rows = _shape_rows(
                [_jsonable(r.asDict(recursive=True)) for r in df.collect()], df
            )
            return QueryPage(
                rows, None, compute_query_charge(rows, query, cartesians)
            )

        sort_cols: list[str] = []
        if self.detect_dialect(query) == "cypher":
            if not re.search(r"\bORDER\s+BY\b", query, re.IGNORECASE):
                df, sort_cols = _cypher_paging_order(df)
        else:
            sort_cols = [c for c in df.columns if c.startswith("__pk")]
        if not sort_cols:
            return self._offset_page(df, query, max_items_per_page, tok, cartesians)
        return self._keyset_page(
            df, query, max_items_per_page, tok, sort_cols, cartesians
        )

    def _offset_page(
        self, df: DataFrame, query: str, n: int, tok: dict[str, Any],
        cartesians: int = 0,
    ) -> QueryPage:
        offset = int(tok.get("_tr", 0))
        page = df.offset(offset).limit(n + 1).collect()
        rows = _shape_rows(
            [_jsonable(r.asDict(recursive=True)) for r in page[:n]], df
        )
        token = None
        if len(page) > n:
            token = base64.b64encode(
                json.dumps({"_tr": offset + n, "_q": query}).encode()
            ).decode()
        return QueryPage(rows, token, compute_query_charge(rows, query, cartesians))

    def _keyset_page(
        self, df: DataFrame, query: str, n: int, tok: dict[str, Any],
        sort_cols: list[str], cartesians: int = 0,
    ) -> QueryPage:
        from pyspark.sql import functions as F

        boundary = tok.get("_ks")
        skip = int(tok.get("_kd", 0))
        if boundary is not None:
            vals = [_token_decode_val(v) for v in boundary]
            page_df = df.filter(
                _keyset_ge([F.col(c) for c in sort_cols], vals)
            ).offset(skip)
        else:
            vals = None
            page_df = df
        page = page_df.limit(n + 1).collect()
        served = page[:n]
        token = None
        if len(page) > n and served:
            last = [served[-1][c] for c in sort_cols]
            dups = 0
            for r in reversed(served):
                if [r[c] for c in sort_cols] == last:
                    dups += 1
                else:
                    break
            if vals is not None and last == vals and dups == len(served):
                # the whole page was boundary duplicates — carry the skip
                dups += skip
            token = base64.b64encode(
                json.dumps(
                    {
                        "_ks": [_token_encode_val(v) for v in last],
                        "_kd": dups,
                        "_q": query,
                    }
                ).encode()
            ).decode()
        hidden = {c for c in df.columns if c.startswith("__pk") or c.startswith("__ks")}
        rows = _shape_rows(
            [
                _jsonable(
                    {k: v for k, v in r.asDict(recursive=True).items() if k not in hidden}
                )
                for r in served
            ],
            df,
        )
        return QueryPage(rows, token, compute_query_charge(rows, query, cartesians))

    def query_charge(self, page: QueryPage) -> float:
        """Per-page charge, reference arithmetic incl. the +10
        var-length and +5 aggregate surcharges (``Query.cs:240-257``) —
        computed at query time, carried on the page."""
        return page.charge

    # ------------------------------------------------------------------
    # model registry
    # ------------------------------------------------------------------
    @property
    def registry(self) -> ModelRegistry:
        if self._registry is None:
            docs = [json.loads(r[0]) for r in self.store.models.select("model").collect()]
            self._registry = ModelRegistry(docs)
        return self._registry

    def _swap(self, store: GraphStore) -> None:
        self.store = store

    def checkpoint(self, path: str | None = None, compact: bool = False) -> None:
        """Storage maintenance (SURVEY §7 hard-#5: update-heavy OLTP on
        immutable snapshots).  Every point mutation swaps in a plan
        built on the previous one: the base filtered by the written keys,
        unioned with the written rows as a ``LocalRelation`` overlay
        (``crud._merge_twin_rows``).  The optimizer folds an overlay a
        read cannot match away at plan time and sizes the rest exactly,
        so joins over a mutated table still broadcast; what N mutations
        still cost is N key filters on every base scan, N union legs to
        plan, and — after a relationship write — the loss of the
        bucketed incoming-edge and long-id indexes.  With ``path``, rewrite
        the store in the partitioned parquet layout and reload — the
        Delta ``OPTIMIZE``/compaction equivalent, restoring partition
        pruning and statistics; without, cut the lineage in place with
        ``localCheckpoint`` (executor-memory materialization).  Run it
        every few hundred mutations or after bulk imports.  With
        ``compact=True`` the rewrite additionally range-clusters rows on
        the lookup keys and collapses small files
        (``GraphStore.save_compacted`` — the OPTIMIZE-with-clustering
        form)."""
        if compact and path is None:
            raise ValueError(
                "checkpoint(compact=True) requires a path: the clustered "
                "rewrite is a storage operation, not an in-memory cut"
            )
        if path is not None:
            if compact:
                self.store.save_compacted(path)
            else:
                self.store.save(path)
            self._swap(GraphStore.load(self.store.spark, path))
            return
        s = self.store
        self._swap(
            crud._replace(
                s,
                twins=s.twins.localCheckpoint(eager=True),
                relationships=s.relationships.localCheckpoint(eager=True),
                models=s.models.localCheckpoint(eager=True),
                model_edges=s.model_edges.localCheckpoint(eager=True),
            )
        )

    def commit(self, root: str) -> int:
        """Durably commit the current snapshot plus the buffered change
        log to a versioned table root (``store/commit_log.py``): one
        atomic manifest, one compacted change batch, then reload from
        the committed parquet so subsequent queries scan the pruned
        layout instead of the mutation plan chain.  Raises
        ``CommitConflict`` (buffered events retained) if another writer
        committed first — reload, rebase, retry."""
        from pg_age_digitaltwins_spark.store.commit_log import (
            CommitLog,
            changed_partitions_from_events,
            commit_cow,
            commit_snapshot,
            load_latest,
        )

        events = list(self.changes.events)
        # Copy-on-write when the buffered events fully describe what
        # changed since the base version: rewrite O(touched partitions)
        # instead of the whole table set.  An empty buffer means the
        # mutations were captured out-of-band (feed mode / distributed
        # import), so only the full snapshot is provably consistent.
        if events and CommitLog(root).latest_version() > 0:
            version = commit_cow(
                self.store,
                root,
                changed=changed_partitions_from_events(events),
                events=events,
            )
        else:
            version = commit_snapshot(self.store, root, events=events or None)
        # Only drop the buffered events once the commit is durable.
        self.changes.events.clear()
        store, _ = load_latest(self.store.spark, root)
        self._swap(store)
        return version

    # ------------------------------------------------------------------
    # twins (D1-D5)
    # ------------------------------------------------------------------
    def get_digital_twin(self, dt_id: str) -> dict[str, Any]:
        return crud.get_twin(self.store, dt_id)

    def create_or_replace_digital_twin(
        self, dt_id: str, doc: dict[str, Any], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        store, new, old = crud.create_or_replace_twin(
            self.store, self.registry, dt_id, doc, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append(
            "Twin", dt_id, old, new, "Update" if old is not None else "Insert", ts
        )
        return new

    def update_digital_twin(
        self, dt_id: str, patch: list[dict[str, Any]], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        store, new, old = crud.update_twin(
            self.store, self.registry, dt_id, patch, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append("Twin", dt_id, old, new, "Update", ts)
        return new

    def delete_digital_twin(self, dt_id: str, **kw) -> None:
        store, old = crud.delete_twin(self.store, dt_id, **kw)
        self._swap(store)
        self.changes.begin()
        self.changes.append("Twin", dt_id, old, None, "Delete", crud.now_iso())

    def create_or_replace_digital_twins(
        self, docs: list[dict[str, Any]], **kw
    ) -> list[dict[str, Any]]:
        """D5: batch ≤100, per-item results, one vectorized MERGE."""
        ts = kw.setdefault("ts", crud.now_iso())
        store, results, changes = crud.create_twins_batch(
            self.store, self.registry, docs, **kw
        )
        self._swap(store)
        self.changes.begin()
        for dt_id, old, new in changes:
            self.changes.append(
                "Twin", dt_id, old, new, "Update" if old is not None else "Insert", ts
            )
        return results

    # ------------------------------------------------------------------
    # components (D9)
    # ------------------------------------------------------------------
    def get_component(self, dt_id: str, component: str) -> dict[str, Any]:
        return crud.get_component(self.store, dt_id, component)

    def update_component(
        self, dt_id: str, component: str, patch: list[dict[str, Any]], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        store, new, old = crud.update_component(
            self.store, self.registry, dt_id, component, patch, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append("Twin", dt_id, old, new, "Update", ts)
        return new

    # ------------------------------------------------------------------
    # relationships (D6-D8)
    # ------------------------------------------------------------------
    def get_relationship(self, dt_id: str, rel_id: str) -> dict[str, Any]:
        return crud.get_relationship(self.store, dt_id, rel_id)

    def list_relationships(self, dt_id: str, relationship_name: str | None = None):
        return crud.list_relationships(self.store, dt_id, relationship_name)

    def list_incoming_relationships(self, dt_id: str):
        return crud.list_incoming_relationships(self.store, dt_id)

    def create_or_replace_relationship(
        self, dt_id: str, rel_id: str, doc: dict[str, Any], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        kw.setdefault("registry", self.registry)
        store, new, old = crud.create_or_replace_relationship(
            self.store, dt_id, rel_id, doc, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append(
            new["$relationshipName"],
            rel_id,
            old,
            new,
            "Update" if old is not None else "Insert",
            ts,
        )
        return new

    def update_relationship(
        self, dt_id: str, rel_id: str, patch: list[dict[str, Any]], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        store, new, old = crud.update_relationship(
            self.store, dt_id, rel_id, patch, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append(
            new["$relationshipName"], rel_id, old, new, "Update", ts
        )
        return new

    def delete_relationship(self, dt_id: str, rel_id: str, **kw) -> None:
        store, old = crud.delete_relationship(self.store, dt_id, rel_id, **kw)
        self._swap(store)
        self.changes.begin()
        self.changes.append(
            old["$relationshipName"], rel_id, old, None, "Delete", crud.now_iso()
        )

    def create_or_replace_relationships(self, docs: list[dict[str, Any]], **kw):
        ts = kw.setdefault("ts", crud.now_iso())
        store, results, changes = crud.create_relationships_batch(self.store, docs, **kw)
        self._swap(store)
        self.changes.begin()
        for rel_id, old, new in changes:
            self.changes.append(
                new["$relationshipName"],
                rel_id,
                old,
                new,
                "Update" if old is not None else "Insert",
                ts,
            )
        return results

    # ------------------------------------------------------------------
    # models (D10) — delegated to the store + registry invalidation
    # ------------------------------------------------------------------
    def create_models(self, model_docs: list[dict[str, Any]], ts: str | None = None):
        from pg_age_digitaltwins_spark import models as model_ops

        store, created = model_ops.create_models(self.store, model_docs)
        self._swap(store)
        self._registry = None
        ts = ts or crud.now_iso()
        self.changes.begin()
        for doc in created:
            self.changes.append("Model", doc["@id"], None, doc, "Insert", ts)
        return created

    def get_model(
        self, model_id: str, include_base_model_contents: bool = False
    ) -> dict[str, Any]:
        from pg_age_digitaltwins_spark import models as model_ops

        return model_ops.get_model(
            self.store, model_id,
            include_base_model_contents=include_base_model_contents,
        )

    def list_models(self, dependencies_for: list[str] | None = None):
        from pg_age_digitaltwins_spark import models as model_ops

        return model_ops.list_models(self.store, dependencies_for)

    def decommission_model(self, model_id: str) -> None:
        from pg_age_digitaltwins_spark import models as model_ops

        self._swap(model_ops.decommission_model(self.store, model_id))
        self._registry = None

    def delete_model(self, model_id: str) -> None:
        from pg_age_digitaltwins_spark import models as model_ops

        store, old = model_ops.delete_model(self.store, model_id)
        self._swap(store)
        self._registry = None
        self.changes.begin()
        self.changes.append("Model", model_id, old, None, "Delete", crud.now_iso())

    def delete_all_models(self) -> None:
        from pg_age_digitaltwins_spark import models as model_ops

        self._swap(model_ops.delete_all_models(self.store))
        self._registry = None

    def update_model_embedding(self, model_id: str, embedding: list[float]) -> None:
        from pg_age_digitaltwins_spark import models as model_ops

        self._swap(model_ops.update_model_embedding(self.store, model_id, embedding))

    def search_models(self, embedding=None, text=None, limit: int = 10):
        """D18: hybrid vector + lexical model search
        (``Models.cs:864-942``)."""
        from pg_age_digitaltwins_spark import models as model_ops

        return model_ops.search_models(
            self.store, embedding=embedding, text=text, limit=limit
        )

    # ------------------------------------------------------------------
    # telemetry (D11): fire-and-forget, never stored — queued for the
    # event pipeline exactly like pg_notify (``Telemetry.cs:93-197``)
    # ------------------------------------------------------------------
    def publish_telemetry(
        self,
        dt_id: str,
        payload: dict[str, Any],
        message_id: str | None = None,
        component_name: str | None = None,
        ts: str | None = None,
    ) -> dict[str, Any]:
        doc = crud.get_twin(self.store, dt_id)  # twin must exist
        event = {
            "digitalTwinId": dt_id,
            "messageId": message_id or str(uuid.uuid4()),
            "timestamp": ts or crud.now_iso(),
            "telemetry": payload,
            "modelId": (doc.get("$metadata") or {}).get("$model"),
        }
        if component_name is not None:
            event["componentName"] = component_name
        self.telemetry_events.append(event)
        return event
