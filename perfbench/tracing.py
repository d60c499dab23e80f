"""In-memory spans around the engine's layer boundaries.

The benchmark wraps the public functions of each layer from its own
code (``Tracer.install``); the package itself is not modified.  A span
records its name, start, end, the span that caused it and the id of the
benchmark operation it belongs to.  Spans stay in memory and are written
out once, at the end of the run (``Tracer.dump``).

Spans opened on another thread (a streaming query's ``foreachBatch``
callback runs on the py4j callback thread) take the current operation's
root span as their parent.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from contextlib import contextmanager

# (module, attribute path, span name).  The attribute is the name the
# CALLER resolves at call time, e.g. ``client.parse`` is the parser as
# bound inside the client module.
LAYER_HOOKS = [
    ("pg_age_digitaltwins_spark.client", "DigitalTwinsSparkClient.query_df", "client.query_df"),
    ("pg_age_digitaltwins_spark.client", "parse", "adtql.parse"),
    ("pg_age_digitaltwins_spark.adtql.compiler", "QueryCompiler.compile", "adtql.compile"),
    ("pg_age_digitaltwins_spark.cypher.compiler", "parse_cypher", "cypher.parse"),
    ("pg_age_digitaltwins_spark.cypher.compiler", "CypherCompiler.compile", "cypher.compile"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "client.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame.take", "client.collect"),
    ("pg_age_digitaltwins_spark.crud", "get_twin", "crud.get_twin"),
    ("pg_age_digitaltwins_spark.crud", "update_twin", "crud.update_twin"),
    ("pg_age_digitaltwins_spark.crud", "create_twins_batch", "crud.create_twins_batch"),
    ("pg_age_digitaltwins_spark.crud", "create_or_replace_relationship", "crud.create_or_replace_relationship"),
    ("pg_age_digitaltwins_spark.crud", "validate_twin", "validation.validate_twin"),
    ("pg_age_digitaltwins_spark.functions.jsonpatch", "apply_patch", "functions.jsonpatch.apply"),
    ("pg_age_digitaltwins_spark.store.commit_log", "commit_cow", "store.commit_log.commit_cow"),
    ("pg_age_digitaltwins_spark.store.commit_log", "commit_snapshot", "store.commit_log.commit_snapshot"),
    ("pg_age_digitaltwins_spark.store.commit_log", "load_latest", "store.commit_log.load_latest"),
    ("pg_age_digitaltwins_spark.operators.graph_analytics", "pagerank", "operators.graph_analytics.pageRank"),
    ("pg_age_digitaltwins_spark.operators.graph_analytics", "connected_components", "operators.graph_analytics.connectedComponents"),
    ("pg_age_digitaltwins_spark.operators.graph_analytics", "strongly_connected_components", "operators.graph_analytics.scc"),
    ("pg_age_digitaltwins_spark.operators.graph_analytics", "topological_levels", "operators.graph_analytics.topologicalLevels"),
    ("pg_age_digitaltwins_spark.operators.graph_analytics", "louvain_communities", "operators.graph_analytics.louvain"),
    ("pg_age_digitaltwins_spark.streaming.sinks", "EventRouter.foreach_batch", "streaming.sinks.batch"),
    ("pg_age_digitaltwins_spark.streaming.cloudevents", "format_events_df", "streaming.cloudevents.format_events_df"),
    ("pg_age_digitaltwins_spark.streaming.replica", "apply_changes_to_replica", "streaming.replica.merge"),
]


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: tuple[int, int] | None = None  # (op id, root span id)
        self._ops = 0

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            self._ids += 1
            sid = self._ids
        stack = self._stack()
        parent = stack[-1] if stack else (self._op[1] if self._op else None)
        start = time.perf_counter()
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec = {
                "id": sid, "parent": parent,
                "op": self._op[0] if self._op else None,
                "name": name, "start": start, "end": time.perf_counter(),
            }
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, name: str):
        """Root span of one benchmark operation; children inherit its id."""
        if not self.enabled:
            yield
            return
        self._ops += 1
        with self._lock:
            self._ids += 1
            root = self._ids
        self._op = (self._ops, root)
        start = time.perf_counter()
        stack = self._stack()
        stack.append(root)
        try:
            yield
        finally:
            stack.pop()
            rec = {"id": root, "parent": None, "op": self._ops, "name": name,
                   "start": start, "end": time.perf_counter()}
            with self._lock:
                self.spans.append(rec)
            self._op = None

    # -- layer hooks ---------------------------------------------------
    def install(self) -> None:
        """Wrap every hook for the life of the process; spans are only
        recorded while ``enabled`` is set."""
        for module, path, name in LAYER_HOOKS:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            setattr(owner, attr, self._wrap(owner.__dict__[attr], name))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- analysis ------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's time."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, reach, s["start"]), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def by_name(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s)
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")
